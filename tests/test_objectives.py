import numpy as np
import pytest
from pyspark.sql import functions as F

from mopso_engine.assign import assign
from mopso_engine.objectives import (
    conn_df,
    dev_of,
    evaluate_solutions,
    knn_pairs_crossjoin,
    knn_pairs_exact,
    knn_pairs_partition_local,
    with_neighbors,
)
from tests.conftest import oracle_assign, oracle_conn

L = 10


def test_knn_exact_matches_crossjoin(blobs_df):
    a = {(r["id"], r["rank"]): r["nbr_id"] for r in knn_pairs_exact(blobs_df, L).collect()}
    b = {(r["id"], r["rank"]): r["nbr_id"] for r in knn_pairs_crossjoin(blobs_df, L).collect()}
    assert a == b


def test_knn_exact_matches_crossjoin_on_boundary_ties(spark):
    """On an integer grid with duplicate points most rows' L-th and
    (L+1)-th distances tie; the kernel must pick the neighbor SET the
    crossjoin's row_number over (dist, nbr_id) picks, not whichever tied
    point argpartition happens to leave in front. Integer coordinates
    make the distances exact, so the doubles must match too."""
    rng = np.random.default_rng(3)
    grid = rng.integers(0, 6, size=(200, 2)).astype(np.float64)
    ids = rng.choice(10_000, size=200, replace=False)
    d = np.sqrt(((grid[:, None, :] - grid[None, :, :]) ** 2).sum(axis=2))
    np.fill_diagonal(d, np.inf)
    kth = np.sort(d, axis=1)
    assert (kth[:, 4] == kth[:, 5]).mean() > 0.5  # ties straddle rank L=5
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in p], 0) for i, p in zip(ids, grid)],
        "id long, features array<double>, label int",
    ).repartition(3)
    key = lambda r: (r["id"], r["rank"])  # noqa: E731
    a = {key(r): (r["nbr_id"], r["nbr_dist"]) for r in knn_pairs_exact(df, 5).collect()}
    b = {key(r): (r["nbr_id"], r["nbr_dist"]) for r in knn_pairs_crossjoin(df, 5).collect()}
    assert len(a) == 200 * 5
    assert a == b


#: 8 rows over 5 id-hash partitions: sizes 5, 2, 1, 0, 0
SPARSE_IDS = (0, 2, 4, 5, 6, 7, 16, 18)


@pytest.mark.parametrize("table", ["blobs", "sparse"])
@pytest.mark.parametrize("scope", ["partition_local", "exact"])
def test_partition_local_pairs_match_packed_neighbors(spark, blobs_df, blobs, scope, table):
    """The pair table (knn_pairs_partition_local / knn_pairs_exact, the
    rescore path) and with_neighbors' packed vectors (the fit) must hold
    the same neighbor ids at the same ranks on one layout — in both
    scopes, also with empty and 1-row partitions, whose row packs 1+L
    self-copies with nbr_n = 0 and emits no pair."""
    if table == "blobs":
        ids, x, _, _ = blobs
        layout = blobs_df.repartition(3, "id").sortWithinPartitions("id")
    else:
        ids = np.array(SPARSE_IDS, dtype=np.int64)
        x = np.stack([ids, ids % 3], axis=1).astype(np.float64)
        rows = [(int(i), [float(v) for v in xi], 1 + int(i) % 2) for i, xi in zip(ids, x)]
        layout = spark.createDataFrame(rows, "id long, features array<double>, label int").repartition(5, "id")
    parts = [[r["id"] for r in part] for part in layout.rdd.glom().collect()]
    if table == "sparse":
        assert sorted(map(len, parts)) == [0, 0, 1, 2, 5]
    id_of = {xi.tobytes(): int(i) for i, xi in zip(ids, x)}
    assert len(id_of) == len(ids)  # vectors identify their rows
    # each row's neighbor pool: the whole table, or the row's partition
    if scope == "exact":
        pools, pairs_df = [sum(parts, [])], knn_pairs_exact(layout, L)
    else:
        pools, pairs_df = parts, knn_pairs_partition_local(layout, L)
    pool_n = {i: len(pool) for pool in pools for i in pool}
    packed = {}
    for r in with_neighbors(layout, L, mode=scope).collect():
        v = np.frombuffer(r["self_nbr_flat"], dtype=np.float64).reshape(1 + L, -1)
        assert r["nbr_n"] == min(L, pool_n[r["id"]] - 1)
        for rank in range(1, r["nbr_n"] + 1):
            packed[(r["id"], rank)] = id_of[v[rank].tobytes()]
        for pad in v[1 + r["nbr_n"] :]:  # padding repeats the point itself
            assert pad.tobytes() == v[0].tobytes()
    pairs = {(r["id"], r["rank"]): r["nbr_id"] for r in pairs_df.collect()}
    assert len(pairs) == sum(len(p) * min(L, len(p) - 1) for p in pools)
    assert packed == pairs


def test_dev_matches_oracle(blobs_df, blobs):
    _, x, _, c = blobs
    assigned = assign(blobs_df, c)
    _, dist = oracle_assign(x, c)
    assert dev_of(assigned) == pytest.approx(dist.sum(), rel=1e-9)


def test_conn_relational_matches_oracle(blobs_df, blobs):
    _, x, _, c = blobs
    cl, _ = oracle_assign(x, c)
    pairs = knn_pairs_exact(blobs_df, L)
    got = conn_df(pairs, assign(blobs_df, c)).collect()[0]["conn"]
    assert got == pytest.approx(oracle_conn(x, cl, L), rel=1e-9)


def test_evaluate_solutions_matches_oracles(blobs_df, blobs):
    _, x, _, c = blobs
    rng = np.random.default_rng(1)
    stack = np.stack([c, c + rng.normal(scale=0.5, size=c.shape)])
    nbr = with_neighbors(blobs_df, L, mode="exact")
    fit = evaluate_solutions(nbr, stack)
    for s in range(2):
        cl, dist = oracle_assign(x, stack[s])
        assert fit[s, 0] == pytest.approx(dist.sum(), rel=1e-9)
        assert fit[s, 1] == pytest.approx(oracle_conn(x, cl, L), rel=1e-9)


def test_fixed_blocks_invariant_to_batch_chunking():
    """The fitness kernel's re-chunker: block boundaries are a pure
    function of (row order, block size) — the incoming Arrow batch sizes
    must not matter (that's what keeps per-block float reductions
    config-independent), and memory never needs the whole partition."""
    import pandas as pd

    from mopso_engine.objectives import _fixed_blocks

    rows = pd.DataFrame({"a": np.arange(23), "b": np.arange(23) * 1.5})

    def chunked(sizes):
        out, i = [], 0
        for s in sizes:
            out.append(rows.iloc[i : i + s].reset_index(drop=True))
            i += s
        return out

    for sizes in ([23], [1] * 23, [3, 5, 2, 8, 5], [10, 13]):
        blocks = list(_fixed_blocks(iter(chunked(sizes)), 4))
        assert [len(b) for b in blocks] == [4, 4, 4, 4, 4, 3]
        cat = pd.concat(blocks, ignore_index=True)
        assert np.array_equal(cat["a"].to_numpy(), rows["a"].to_numpy())
        assert np.array_equal(cat["b"].to_numpy(), rows["b"].to_numpy())


def test_partition_local_mode_weighted_sum(spark, blobs):
    """Avg-compat mode: Σ_p (|p|/N)·[Dev_p, Conn_p] with partition-local kNN
    (Spark_MOPSO_Avg.scala:843-865). Verified on a 2-partition layout
    partitioned by a known key."""
    ids, x, labels, c = blobs
    n = len(x)
    rows = [(int(i), [float(v) for v in xi], int(l)) for i, xi, l in zip(ids, x, labels)]
    df = (
        spark.createDataFrame(rows, "id long, features array<double>, label int")
        .repartition(2, "label")
    )
    part_of = {
        r["id"]: r["p"]
        for r in df.select("id", F.spark_partition_id().alias("p")).collect()
    }
    nbr = with_neighbors(df, L, mode="partition_local")
    fit = evaluate_solutions(nbr, np.stack([c]), partition_weighted=True, n_total=n)
    exp_dev, exp_conn = 0.0, 0.0
    for p in set(part_of.values()):
        sel = np.array([i for i in range(n) if part_of[i] == p])
        cl, dist = oracle_assign(x[sel], c)
        w = len(sel) / n
        exp_dev += w * dist.sum()
        exp_conn += w * oracle_conn(x[sel], cl, L)
    assert fit[0, 0] == pytest.approx(exp_dev, rel=1e-9)
    assert fit[0, 1] == pytest.approx(exp_conn, rel=1e-9)


@pytest.mark.parametrize("mode", ["lsh", "crossjoin"])
def test_with_neighbors_has_two_scopes(blobs_df, mode):
    """Only the two scopes build a neighbour table: a removed mode name
    raises instead of running partition-local."""
    with pytest.raises(ValueError, match="unknown knn mode"):
        with_neighbors(blobs_df, 5, mode=mode)


def test_exact_mode_refuses_oversized_broadcast(blobs_df):
    with pytest.raises(ValueError, match="partition_local"):
        with_neighbors(blobs_df, 5, mode="exact", n_rows=10**9)


def test_knn_pairs_exact_refuses_oversized_collect(blobs_df):
    """The MAX_EXACT_KNN_ROWS guard lives in knn_pairs_exact itself — a
    direct call on a big table must fail fast, not OOM the driver."""
    with pytest.raises(ValueError, match="partition_local"):
        knn_pairs_exact(blobs_df, 5, n_rows=10**9)



def test_knn_pairs_exact_math_refuses_before_the_collect(spark, blobs_df):
    """The pair table checks MAX_EXACT_KNN_ROWS before its collect: no
    Spark job runs."""
    sc = spark.sparkContext
    group = "exact-math-above-cap"
    sc.setJobGroup(group, "oversized exact-math pair table")
    try:
        with pytest.raises(ValueError, match="partition_local"):
            knn_pairs_exact(blobs_df, 5, n_rows=10**9)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("partitions", [1, 7])
def test_exact_math_pairs_equal_brute_force(spark, partitions):
    """The pair table is brute-force ``_distances_exact`` ranking by
    (dist, id), distances byte for byte, on an integer grid with
    duplicates and ties, whatever the input's layout; its neighbour sets
    and ranks are the crossjoin oracle's. So are the fit's: the packed
    neighbour vectors of ``with_neighbors(mode='exact')`` are, rank by
    rank, the vectors of the crossjoin's neighbour ids."""
    from mopso_engine.assign import _distances_exact
    from mopso_engine.objectives import _release_knn

    rng = np.random.default_rng(5)
    grid = rng.integers(0, 5, size=(120, 3)).astype(np.float64) * 0.1
    ids = np.sort(rng.choice(10_000, size=120, replace=False))
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in p], 0) for i, p in zip(ids, grid)],
        "id long, features array<double>, label int",
    ).repartition(partitions)
    d = _distances_exact(grid, grid)
    np.fill_diagonal(d, np.inf)
    order = np.lexsort((np.broadcast_to(ids, d.shape), d), axis=1)[:, :5]
    want = {
        (int(ids[i]), rank + 1): (int(ids[j]), d[i, j].tobytes())
        for i in range(len(ids))
        for rank, j in enumerate(order[i])
    }
    pairs = knn_pairs_exact(df, 5, n_rows=120)
    got = {(r["id"], r["rank"]): (r["nbr_id"], np.float64(r["nbr_dist"]).tobytes()) for r in pairs.collect()}
    _release_knn(pairs)
    assert got == want
    cross = {(r["id"], r["rank"]): r["nbr_id"] for r in knn_pairs_crossjoin(df, 5).collect()}
    assert {k: v[0] for k, v in got.items()} == cross
    vec = dict(zip(ids.tolist(), grid))
    nbr = with_neighbors(df, 5, mode="exact", n_rows=120)
    packed = {}
    for r in nbr.collect():
        assert r["nbr_n"] == 5
        v = np.frombuffer(r["self_nbr_flat"], dtype=np.float64).reshape(6, 3)
        assert v[0].tobytes() == vec[r["id"]].tobytes()
        packed.update({(r["id"], rank): v[rank].tobytes() for rank in range(1, 6)})
    _release_knn(nbr)
    assert packed == {k: vec[i].tobytes() for k, i in cross.items()}


@pytest.mark.parametrize("scope", ["exact", "partition_local"])
def test_duplicate_ids_fail_with_a_clear_error(spark, scope):
    """A kNN table finds a row's own column by id: a duplicated id would
    keep a row as its own nearest neighbour at distance 0 and Conn would
    count a self-pair. Both scopes refuse it, naming the id."""
    df = spark.createDataFrame(
        [(1, [0.0], 0), (2, [5.0], 0), (2, [1.0], 0), (3, [9.0], 0)], "id long, features array<double>, label int"
    ).coalesce(1)
    with pytest.raises(Exception, match="duplicate id 2"):
        with_neighbors(df, 2, mode=scope).collect()


def test_exact_knn_collected_from_the_input_keeps_the_bytes(blobs_df):
    """An exact fit collects the kNN reference set from its input rather
    than from the re-laid-out table; the packed neighbour rows are the
    same bytes."""
    from mopso_engine.objectives import _release_knn

    layout = blobs_df.repartition(3, "id").sortWithinPartitions("id")
    tables = [with_neighbors(layout, L, mode="exact"), with_neighbors(layout, L, mode="exact", collect_from=blobs_df)]
    rows = [sorted((r["id"], r["self_nbr_flat"], r["nbr_n"]) for r in t.collect()) for t in tables]
    for t in tables:
        _release_knn(t)
    assert rows[0] == rows[1]
