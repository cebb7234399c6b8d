"""Iterative link-analysis over edge tables: PageRank.

Complements the connected-components family (ext.dedup.duplicate_components
/ duplicate_components_star): components answer "which rows are the same
entity"; PageRank answers "which entities matter", the quality prior real
corpus pipelines attach to a link graph (domain ranking a la CommonCrawl's
centrality lists) and the classic iterative-workload shape on Spark.

Engine-exactness: ranks are carried as integer micro-units (1.0 == 1e6)
and every step is exact BIGINT arithmetic — per-edge contribution is
``units div outdeg`` (floor division), the damped update is
``teleport + (damping_pct * incoming) div 100`` — so after any number of
iterations the rank vector is bit-identical across engines and the DuckDB
oracle can replay the loop as unrolled CTEs with ``//`` division. No
doubles anywhere, hence no summation-order hazard.
"""
from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "pagerank",
    "clear_pagerank_caches",
    "cooccurrence_affinity",
    "triangle_counts",
    "kcore",
    "label_propagation",
    "LAST_GRAPH_PHASES",
]

#: per-phase wall clocks of the LAST pagerank/bfs_levels call — read
#: right after timing a graph entry (VERDICT r11 #2: supplier_bfs swung 15→22s across rounds on
#: unchanged code with quiet calibs and had no in-artifact decomposition
#: to adjudicate it). "setup" is the one-off edge/node cache build
#: (forced eagerly so it can't leak into the first block); each entry of
#: "blocks" is one materialization job covering the lazily-chained
#: rounds since the previous one. A slow bench reading then
#: self-adjudicates: setup inflated with flat blocks = per-job fixed
#: cost (launch/IO) noise; a block inflated = a real kernel regression.
LAST_GRAPH_PHASES: dict = {}

#: every query-lifetime cache the graph operators retain: final
#: rank/label/level vectors (callers iterate on them; loop INTERNAL
#: caches are unpersisted before returning) plus triangle_counts' edge
#: and orientation tables (consumed by several joins of one output
#: plan). Long sessions (the oracle sweep runs ~270 queries in one JVM)
#: and the bench's per-attempt reset call :func:`clear_pagerank_caches`
#: to drop them all.
_GRAPH_CACHES: list[DataFrame] = []

#: edge rows per shuffle partition for the iterative loops — ~24 B/row
#: keeps partitions in the tens-of-MB range (guide: size partitions by
#: bytes, not by a fixed count). The width is derived from the MEASURED
#: edge count at runtime, so the same code picks a handful of partitions
#: for a 1M-edge local graph and thousands for a 100 TB edge table,
#: instead of inheriting a constant tuned for either.
_EDGE_ROWS_PER_PARTITION = 500_000


def _iter_width(n_edges: int, session_sp: int) -> int:
    """Scale-adaptive partition width for an iterative graph loop: edge
    count over :data:`_EDGE_ROWS_PER_PARTITION`, never wider than the
    session's shuffle-partition upper bound (so a cluster session's
    tuning still caps it)."""
    return max(1, min(int(session_sp), -(-int(n_edges) // _EDGE_ROWS_PER_PARTITION)))


def clear_pagerank_caches() -> int:
    """Unpersist every cache in the graph registry (rank/label/level
    vectors, triangle edge/orientation tables). Name kept for the
    established bench/sweep hook wiring."""
    n = 0
    while _GRAPH_CACHES:
        df = _GRAPH_CACHES.pop()
        try:
            df.unpersist()
        except Exception:
            pass
        n += 1
    return n


def pagerank(
    edges: DataFrame,
    *,
    iters: int = 6,
    damping_pct: int = 85,
    unit: int = 1_000_000,
    src_col: str = "src",
    dst_col: str = "dst",
    num_partitions: int | None = None,
    seeds: list[int] | None = None,
    materialize_every: int = 3,
    edges_distinct: bool = False,
) -> DataFrame:
    """Integer-exact PageRank over a directed edge table.

    ``edges``: (src, dst) pairs; deduplicated here, null endpoints
    dropped. Every rank starts at ``unit`` micro-units (rank 1.0, total
    mass == |V|); one iteration is

        inc(v)   = SUM over (u,v) in E of  units(u) div outdeg(u)
        units(v) = teleport + (damping_pct * inc(v)) div 100

    with ``teleport = (100 - damping_pct) * unit div 100``. Dangling
    mass is not redistributed (nodes appearing only as destinations leak
    their share — the standard simplification; the bipartite
    both-directions construction used by the declared query gives every
    node outdeg >= 1, so nothing dangles there).

    Physical shape (100 TB): edges+outdeg and the node list are
    hash-partitioned ONCE on their join keys and cached; the rank vector
    is persisted and eagerly materialized every ``materialize_every``
    iterations, so the cache REPORTS its node-hash partitioning to
    Catalyst (InMemoryRelation keeps the child's outputPartitioning — a
    localCheckpoint would hide it behind an ExistingRDD scan and force 3
    shuffles per round). The ranks-by-edges probe and the
    nodes-by-incoming patch then both reuse existing partitionings,
    leaving the groupBy(dst) PageRank fundamentally requires as the ONLY
    per-iteration exchange (pinned by tests/test_graph.py's
    marginal-exchange count). The previous cache is dropped as soon as
    its successor materializes, bounding memory to two rank vectors and
    the plan to ``materialize_every`` rounds.

    ``materialize_every`` trades fixed job/cache-write overhead against
    plan length: the rounds between materializations chain LAZILY inside
    one job (still exactly one exchange per round — the stages pipeline),
    so K=3 pays 1/3 of the cache writes and job launches. Measured at
    sf0.1 (6 rounds, r9 host, identical bit-exact sums): K=1 12.5s,
    K=3 9.3s, K=6 (one long chain) 26.0s — the default 3 is the
    measured sweet spot; 1 restores the r8 per-round behavior.

    ``num_partitions`` must match the session's shuffle partitions for
    the aggregate's exchange to co-partition with the cached node list
    (the default reads it from the session conf).

    ``seeds``: when given, runs PERSONALIZED PageRank — rank mass starts
    on the seed set only and the teleport term returns only to seeds, so
    ``units`` measures proximity to the seeds ("related entities")
    rather than global centrality. Same integer arithmetic; the seed
    membership test is a broadcast literal IN-list (keep seed sets
    small — that is what personalization means).

    Returns (node BIGINT, units BIGINT) — rank in integer micro-units,
    persisted (registered with :func:`clear_pagerank_caches`).
    """
    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0, 100), got {damping_pct}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if materialize_every < 1:
        raise ValueError(
            f"materialize_every must be >= 1, got {materialize_every}"
        )

    spark = edges.sparkSession
    session_sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    if not edges_distinct:
        # ``edges_distinct=True`` is the caller asserting the edge table
        # is already duplicate-free (e.g. a union of DISTINCT pairs over
        # disjoint direction keyspaces) — the dedup shuffle is then a
        # provable no-op and setup skips one full edge-table exchange.
        e = e.distinct()

    t0 = time.time()
    # Materialize the deduped edge table ONCE: esrc, outdeg and the node
    # list are all derived from it, and without the persist each of
    # those materializations re-ran the caller's whole upstream plan
    # (join + distinct) — 2-3 full input passes inside setup (measured
    # ~40% of the supplier_* setup wall at sf0.1). The count doubles as
    # the edge-count probe the adaptive width needs; the cache is
    # dropped as soon as the loop caches are built.
    e = e.persist()
    n_edges = e.count()
    shuffle_p = num_partitions or _iter_width(n_edges, session_sp)
    # outdeg as a whole-partition count window over the src-partitioned
    # edges: hash(src) satisfies the window's clustering, so the cache
    # builds with ONE exchange + a local sort — the former
    # groupBy(src) ⋈ src rendering paid an aggregate exchange AND a join
    # before the repartition (plan: 3 exchanges → 1 on this lineage).
    # Same values: count over the full src frame == the per-src degree.
    esrc = (
        e.repartition(shuffle_p, "src")
        .withColumn(
            "outdeg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        # repartition BEFORE the dedup: hash(node) at the loop width
        # satisfies the distinct's clustering, so the aggregate runs
        # exchange-free on top of it (2 exchanges → 1 on this lineage)
        .repartition(shuffle_p, "node")
        .distinct()
        .persist()
    )
    # build both loop caches NOW so their cost lands in the "setup"
    # phase, never inside the first materialization block — the same
    # total work either way (the first block would build them lazily),
    # but now the telemetry separates one-off IO from kernel time
    esrc.count()
    nodes.count()
    e.unpersist()
    phases: dict = {
        "op": "pagerank",
        "setup": round(time.time() - t0, 3),
        "blocks": [],
    }

    teleport = (100 - damping_pct) * unit // 100
    if seeds is not None:
        if not seeds:
            raise ValueError("seeds must be non-empty when given")
        seed_list = [int(s) for s in seeds]
        is_seed = F.col("node").isin(seed_list)
        tele_col = F.when(is_seed, F.lit(int(teleport))).otherwise(F.lit(0)).cast("long")
        init_col = F.when(is_seed, F.lit(int(unit))).otherwise(F.lit(0)).cast("long")
    else:
        tele_col = F.lit(int(teleport)).cast("long")
        init_col = F.lit(int(unit)).cast("long")
    ranks = nodes.select("node", init_col.alias("units"))
    prev: DataFrame | None = None
    t_blk = time.time()
    # Pin the session shuffle width to the loop's adaptive width while
    # the blocks materialize: the per-iteration groupBy("node") exchange
    # takes its width from the session conf at execution time, and the
    # zero-extra-exchange property of the loop (the rank⋈edges probe and
    # the nodes⋈incoming patch reusing the cached partitionings) holds
    # only when that width MATCHES the caches'. Restored in the finally;
    # every block materializes inside this function, so nothing outside
    # runs under the pinned value. GUARD (VERDICT r16 #8): the conf is
    # process-global — a query planned CONCURRENTLY on this session
    # during the loop would inherit the pinned width (physical only,
    # never values); do not run these loops from concurrent driver
    # threads sharing one session.
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_p))
    try:
        for i in range(iters):
            inc = (
                ranks.join(esrc, ranks["node"] == esrc["src"])
                .select(
                    F.col("dst").alias("node"),
                    F.expr("units div outdeg").alias("contrib"),
                )
                .groupBy("node")
                .agg(F.sum("contrib").alias("inc"))
            )
            ranks = (
                nodes.join(inc, "node", "left")
                .select(
                    "node",
                    (
                        tele_col
                        + F.expr(
                            f"({int(damping_pct)} * coalesce(inc, 0L)) div 100"
                        )
                    ).cast("long").alias("units"),
                )
            )
            if (i + 1) % materialize_every == 0 or i == iters - 1:
                ranks = ranks.persist()
                ranks.count()  # materialize so the predecessor can drop NOW
                phases["blocks"].append(
                    {"through_iter": i + 1, "wall": round(time.time() - t_blk, 3)}
                )
                t_blk = time.time()
                if prev is not None:
                    prev.unpersist()
                prev = ranks
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    esrc.unpersist()
    nodes.unpersist()
    phases["n_iters_run"] = iters
    LAST_GRAPH_PHASES.clear()
    LAST_GRAPH_PHASES.update(phases)
    _GRAPH_CACHES.append(ranks)
    return ranks


def cooccurrence_affinity(
    baskets: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    top_k: int = 50,
) -> DataFrame:
    """Market-basket co-occurrence affinity ("users who bought X also
    bought Y"): for every unordered item pair appearing in the same
    basket, the co-occurrence count and the lift
    cnt·N / (n_a·n_b) — the association strength that powers
    related-items recommendations and complement detection.

    Physical shape (100 TB): pair generation is a SELF-JOIN ON THE
    BASKET KEY — fan-out is bounded by basket size (pairs per basket =
    |basket|², never corpus²), and both sides read the same deduped
    (basket, item) table, PERSISTED once for its five consumers (r17:
    the consumers' differing projections defeat exchange reuse — the
    executed plan held five corpus scans before). One (a, b) count
    shuffle aggregates pairs, per-item supports are one more key count,
    N is a broadcast scalar, and the final top-k is a TakeOrdered — no
    global sort. Degenerate mega-baskets should be capped upstream
    (quota_sample on the basket key) exactly like hot shingles in the
    dedup family.

    Exactness: counts are exact integers; lift quantizes from a double
    derived as (cnt·N)/(n_a·n_b) with an identical expression tree in
    both engines (double division avoids the cnt·N·1e6 BIGINT overflow
    at corpus scale); the (cnt desc, a, b) cut is integer-deterministic.

    Returns top-``top_k`` rows (item_a, item_b, cnt, lift_micro) with
    item_a < item_b.
    """
    # the deduped (basket, item) table feeds FIVE consumers (both pair
    # sides, two support broadcasts, the N scalar) — persist it once
    # (registered for clear_pagerank_caches) instead of re-running the
    # upstream scan + dedup per consumer: the executed plan held 5
    # parquet scans and zero ReusedExchange before (r17 audit; the
    # consumers' differing projections defeat exchange reuse)
    bi = (
        baskets.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        )
        .distinct()
        .persist()
    )
    _GRAPH_CACHES.append(bi)
    left = bi.select("basket", F.col("item").alias("item_a"))
    right = bi.select("basket", F.col("item").alias("item_b"))
    pairs = (
        left.join(right, "basket")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    support = bi.groupBy("item").agg(F.count(F.lit(1)).alias("n_sup"))
    n_baskets = bi.select("basket").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    lift = (
        F.col("cnt").cast("double") * F.col("n_baskets").cast("double")
    ) / (F.col("na").cast("double") * F.col("nb").cast("double"))
    return (
        pairs.join(
            F.broadcast(support.select(F.col("item").alias("item_a"), F.col("n_sup").alias("na"))),
            "item_a",
        )
        .join(
            F.broadcast(support.select(F.col("item").alias("item_b"), F.col("n_sup").alias("nb"))),
            "item_b",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "cnt",
            F.floor(lift * F.lit(1e6) + F.lit(0.5)).cast("long").alias("lift_micro"),
        )
        .orderBy(F.desc("cnt"), F.asc("item_a"), F.asc("item_b"))
        .limit(top_k)
    )


def triangle_counts(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    edges_canonical: bool = False,
) -> DataFrame:
    """Per-node triangle counts via the degree-ordered wedge join — the
    clustering-coefficient / community-density primitive (and the third
    classic graph workload next to components and PageRank).

    Algorithm (Schank–Wagner / the MapReduce-standard orientation):
    canonicalize undirected edges, orient every edge from the endpoint
    with the SMALLER (degree, id) to the larger — which bounds every
    out-degree by O(√m) on any graph, so hub nodes cannot explode the
    wedge join — then join out-neighbor pairs (wedges) on their common
    node and close each wedge with an equality semi-join against the
    oriented edge list. Each triangle is found exactly once.

    Physical shape (100 TB): degree table = one key count; orientation =
    two degree joins; wedges = a self-join keyed on the wedge apex
    (fan-out ≤ outdeg² ≤ m per apex by the √m bound); closing = an
    equality join on the (lesser, greater) pair key. Every shuffle is an
    equality key shuffle; nothing quadratic in |V|. The deduped edge
    table and the oriented edge table are persisted once (registered in
    the module cache registry, cleared by :func:`clear_pagerank_caches`)
    — without that, the 3 consumers of the oriented table times the 2
    degree-side consumers times the 3 per-role projections of the
    triangle list re-ran the upstream edge derivation ~45× (the
    pre-r16 part_triangles plan held 90 parquet scans and 229
    exchanges; now 2 scans); the per-role union is likewise folded into
    a single-pass explode of (u, v, w) — one evaluation of the wedge
    join instead of three.

    Exactness: pure integer counting end-to-end.

    Returns (node, n_tri) for every node in at least one triangle.
    """
    e = edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("a"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
    ).where(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    if not edges_canonical:
        # ``edges_canonical=True``: caller asserts the edge table is
        # duplicate-free with src < dst (e.g. a groupBy(x,y) output) —
        # the canonicalize+dedup exchange is then a provable no-op and
        # the cache build skips one full edge-table shuffle.
        e = e.distinct()
    e = e.persist()
    _GRAPH_CACHES.append(e)
    # same (node ← a, node ← b) multiset as the historical two-branch
    # union, in one pass over e
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    ed = e.join(da, "a").join(db, "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    # oriented: src = smaller (deg, id), dst = larger; carry dst's key
    o = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_dst"),
    ).persist()
    _GRAPH_CACHES.append(o)
    o1 = o.select("src", F.col("dst").alias("v"), F.col("deg_dst").alias("deg_v"))
    o2 = o.select("src", F.col("dst").alias("w"), F.col("deg_dst").alias("deg_w"))
    v_first = (F.col("deg_v") < F.col("deg_w")) | (
        (F.col("deg_v") == F.col("deg_w")) & (F.col("v") < F.col("w"))
    )
    wedges = (
        o1.join(o2, "src")
        .where(F.col("v") != F.col("w"))
        .where(v_first)  # each unordered out-pair once, oriented
        .select(F.col("src").alias("u"), "v", "w")
    )
    tris = wedges.join(
        o.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
        "leftsemi",
    )
    # one triangle contributes 1 to each of its three corners: explode
    # replaces the historical 3-way union (which re-evaluated the wedge
    # join per role)
    return (
        tris.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )


def kcore(
    edges: DataFrame,
    *,
    k: int = 3,
    rounds: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
    edges_canonical: bool = False,
) -> DataFrame:
    """k-core decomposition by iterative degree peeling — the graph
    cleaner behind community mining and spam-farm pruning: repeatedly
    drop nodes with degree < ``k`` (removals lower neighbors' degrees,
    cascading) until stable; what survives is the maximal subgraph
    where everyone keeps >= k neighbors.

    ``rounds`` bounds the peel. Peeling is MONOTONE (once converged,
    extra rounds are no-ops), so a fixed round budget returns the exact
    k-core whenever convergence happens within it — the declared query
    pins rounds and its test asserts convergence inside the budget,
    which also lets the oracle replay the loop as unrolled CTEs without
    a data-dependent fixpoint. Cascades longer than ``rounds`` (deep
    peel chains) return the intermediate — documented, detectable by
    comparing against one more round.

    Physical shape (100 TB): each round is one degree count on the
    canonical edge list (a single-pass explode over both endpoints —
    same multiset as the historical two-branch union) + two semi-joins
    filtering edges to surviving endpoints; lineage is cut per round
    (localCheckpoint — the components pattern; partitioning reuse
    matters less here because the edge list SHRINKS each round). Pure
    integer counting. Peeling is monotone, so the loop EXITS EARLY once
    a round removes no edge (every later round is a provable no-op on
    identical data — the fixed-budget result is unchanged); the edge
    count that detects it is read off the just-checkpointed table, one
    cheap cached count per round.

    Returns (node, deg) for k-core members with their in-core degree.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("a"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
    ).where(
        F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
    )
    if not edges_canonical:
        # caller-asserted canonical (duplicate-free, src < dst) edge
        # tables skip this provably-no-op dedup exchange — see
        # :func:`triangle_counts`
        e = e.distinct()
    e = e.localCheckpoint()
    n_edges = e.count()
    for _ in range(rounds):
        deg = (
            e.select(F.explode(F.array("a", "b")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= int(k)).select("node")
        e = (
            e.join(keep.select(F.col("node").alias("a")), "a", "leftsemi")
            .join(keep.select(F.col("node").alias("b")), "b", "leftsemi")
            .select("a", "b")
            .localCheckpoint()
        )
        n_next = e.count()
        if n_next == n_edges:
            # no edge died ⇒ no degree changed ⇒ converged
            break
        n_edges = n_next
    final_deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") >= int(k))
    )
    return final_deg


def label_propagation(
    edges: DataFrame,
    *,
    rounds: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    edges_canonical: bool = False,
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA,
    Raghavan et al. 2007): every node starts as its own label and each
    round adopts the MODE of its neighbors' labels — dense groups agree
    on a label within a few rounds, giving communities without a
    modularity solver. The community view of a graph, complementing
    components (connectivity), PageRank (importance), triangles/k-core
    (density).

    Determinism: synchronous updates (all nodes read round t's labels),
    mode ties break to the SMALLEST label, nodes without neighbors keep
    their label — every round is a pure function of the previous one,
    so the DuckDB oracle replays the loop as unrolled CTEs and the
    final labeling is bit-identical. (Classic async/random LPA is run-
    order-dependent; the synchronous min-tie variant trades a little
    convergence speed for exact replayability.)

    Physical shape (100 TB): the symmetric edge list is deduped,
    hash-partitioned ONCE on the neighbor key and persisted (the count
    doubles as the adaptive-width probe, the pagerank pattern); each
    round is the neighbor-label join against that cache, a
    (node, label) count aggregate and a per-node ``max_by`` argmax over
    the deterministic (c, −label) order — partial-aggregable both
    levels, NO window sort and NO patch join (every node of the derived
    node set has ≥1 symmetric neighbor, so the argmax row set already
    covers it; the old left-join + coalesce was a per-round no-op).
    Rounds chain lazily and materialize every few rounds (persist —
    which REPORTS the node partitioning to Catalyst, where a
    localCheckpoint would hide it — then drop the predecessor), the
    measured pagerank trade between job overhead and plan length.

    Returns (node, label) after ``rounds`` rounds.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    spark = edges.sparkSession
    session_sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = edges.select(
        F.col(src_col).cast("long").alias("a"),
        F.col(dst_col).cast("long").alias("b"),
    ).where(
        F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
    )
    if not edges_canonical:
        e = e.distinct()
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    if not edges_canonical:
        # ``edges_canonical=True`` is the caller asserting the edge table
        # is duplicate-free AND one-directional (e.g. grouped pairs with
        # a < b): both dedup exchanges above/here are then provable
        # no-ops — the union's sides live in disjoint orientations.
        sym = sym.distinct()
    sym = sym.persist()
    n_sym = sym.count()
    shuffle_p = _iter_width(n_sym, session_sp)
    symp = sym.repartition(shuffle_p, "v").persist()
    nodes = (
        symp.select(F.col("u").alias("node"))
        # repartition BEFORE the dedup (the pagerank/bfs discipline):
        # hash(node) satisfies the distinct's clustering — one exchange
        .repartition(shuffle_p, "node")
        .distinct()
        .persist()
    )
    symp.count()
    nodes.count()
    sym.unpersist()
    labels = nodes.select("node", F.col("node").alias("label"))
    # the argmax order: highest count wins, ties to the SMALLEST label —
    # struct comparison is lexicographic, so max(struct(c, −label))
    # picks exactly the (count desc, label asc) winner, deterministically
    # (label is unique within a (node, label) count group)
    prev: DataFrame | None = None
    materialize_every = 3
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_p))
    try:
        for i in range(rounds):
            neigh = (
                symp.join(labels.select(F.col("node").alias("v"), "label"), "v")
                .groupBy(F.col("u").alias("node"), "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            labels = neigh.groupBy("node").agg(
                F.max_by("label", F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias(
                    "label"
                )
            )
            if (i + 1) % materialize_every == 0 or i == rounds - 1:
                labels = labels.persist()
                labels.count()
                if prev is not None:
                    prev.unpersist()
                prev = labels
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    symp.unpersist()
    nodes.unpersist()
    _GRAPH_CACHES.append(labels)
    return labels


def bfs_levels(
    edges: DataFrame,
    sources: list[int],
    *,
    iters: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    num_partitions: int | None = None,
    materialize_every: int = 3,
    edges_distinct: bool = False,
) -> DataFrame:
    """Multi-source BFS hop distance over a directed edge table — the
    "how far is everything from these seeds" primitive behind blast-
    radius, influence-horizon and connectivity audits.

    One synchronous round expands the frontier (nodes first reached
    last round) across the edge list:

        reached(v) = exists (u, v) in E with dist(u) == i-1
        dist(v)    = coalesce(dist(v), i if reached)

    — with unit edges a node's distance is FINAL the first time it is
    reached, so the patch never revisits settled nodes and the frontier
    filter keeps late rounds cheap on high-diameter graphs.

    Physical shape (100 TB): identical to :func:`pagerank` — edges and
    the node list are hash-partitioned ONCE and cached; each round's
    frontier⋈edges probe and nodes⋈reached patch reuse those
    partitionings, leaving the distinct-destinations exchange as the
    ONLY per-round shuffle; the dist vector persists eagerly every
    ``materialize_every`` rounds (lazy rounds chain inside one job) and
    the predecessor cache drops as soon as its successor materializes.
    Distances are small exact integers; unreached stays NULL.

    Returns (node BIGINT, dist INT nullable), persisted (registered
    with :func:`clear_pagerank_caches`).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not sources:
        raise ValueError("sources must be non-empty")
    if materialize_every < 1:
        raise ValueError(
            f"materialize_every must be >= 1, got {materialize_every}"
        )
    spark = edges.sparkSession
    session_sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    if not edges_distinct:
        # caller-asserted-distinct contract as in :func:`pagerank` —
        # skips the provably-no-op dedup exchange in setup
        e = e.distinct()
    t0 = time.time()
    # one upstream pass for both loop caches + the adaptive-width probe
    # (see pagerank above)
    e = e.persist()
    n_edges = e.count()
    shuffle_p = num_partitions or _iter_width(n_edges, session_sp)
    esrc = e.repartition(shuffle_p, "src").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        # repartition BEFORE the dedup (see pagerank above): hash(node)
        # satisfies the distinct's clustering — one exchange, not two
        .repartition(shuffle_p, "node")
        .distinct()
        .persist()
    )
    # eager cache build: setup-vs-blocks telemetry (see pagerank above)
    esrc.count()
    nodes.count()
    e.unpersist()
    phases: dict = {
        "op": "bfs_levels",
        "setup": round(time.time() - t0, 3),
        "blocks": [],
    }
    seed_list = [int(s) for s in sources]
    dist = nodes.select(
        "node",
        F.when(F.col("node").isin(seed_list), F.lit(0))
        .cast("int")
        .alias("dist"),
    )
    prev: DataFrame | None = None
    t_blk = time.time()
    n_rounds_run = 0
    # pin the session shuffle width to the loop's adaptive width while
    # the blocks materialize (see pagerank above): the per-round
    # distinct-destinations exchange must match the caches' width for
    # the round's joins to stay exchange-free
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_p))
    try:
        for i in range(1, iters + 1):
            n_rounds_run = i
            reached = (
                dist.where(F.col("dist") == i - 1)
                .join(esrc, dist["node"] == esrc["src"])
                .select(F.col("dst").alias("node"))
                .distinct()
                .withColumn("hit", F.lit(1))
            )
            dist = dist.join(reached, "node", "left").select(
                "node",
                F.coalesce(
                    F.col("dist"),
                    F.when(F.col("hit") == 1, F.lit(i)).cast("int"),
                ).alias("dist"),
            )
            if i % materialize_every == 0 or i == iters:
                dist = dist.persist()
                dist.count()
                phases["blocks"].append(
                    {"through_round": i, "wall": round(time.time() - t_blk, 3)}
                )
                t_blk = time.time()
                if prev is not None:
                    prev.unpersist()
                prev = dist
                # Early exit: once the newest frontier is empty every later
                # round is a no-op (distances are final on first reach), so
                # breaking here returns a vector BIT-IDENTICAL to the full
                # ``iters`` unroll — the fixed-round oracle still matches.
                # The probe is one cheap job on the just-persisted vector.
                if i < iters and dist.where(F.col("dist") == i).limit(1).count() == 0:
                    break
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    esrc.unpersist()
    nodes.unpersist()
    phases["n_rounds_run"] = n_rounds_run
    LAST_GRAPH_PHASES.clear()
    LAST_GRAPH_PHASES.update(phases)
    _GRAPH_CACHES.append(dist)
    return dist
