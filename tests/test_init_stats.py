"""``init.corpus_stats``, the fit's one set-up pass, against the
relational plans it replaced.

* ``(n, d, k, bounds)`` must equal the posexplode / groupBy plan below,
  and the sample ``init.sample_features`` byte for byte, over 1, 3 and 7
  partitions (an empty and a one-row partition among the 7), with
  duplicate rows, signed zeros and null labels.
* A non-finite value or ragged arrays raise the same message as that
  plan's checks; null features and empty arrays, which the plan
  dropped, raise.
* Spark-free: the (hash, id) order and its stable ties, and the running
  per-batch sample of one task.
"""

import pickle

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from mopso_engine import init as I

SCHEMA = "id long, features array<double>, label int"


def _relational_stats(points, k_hint=None):
    """The relational oracle: (n, d, k, bounds) from one posexplode +
    groupBy plan, with the ingest checks of the fit."""
    rows = (
        points.select("label", F.posexplode("features").alias("idx", "v"))
        .groupBy("idx")
        .agg(
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.count("*").alias("n"),
            F.countDistinct("label").alias("k"),
        )
        .orderBy("idx")
        .collect()
    )
    if not rows:
        raise ValueError("empty points table")
    n = rows[0]["n"]
    k = k_hint
    if k is None:
        k = rows[0]["k"]
        if k <= 1:
            raise ValueError("cannot infer k from labels; pass MopsoConfig(k=...)")
    bounds = np.array([[r["lo"], r["hi"]] for r in rows], dtype=np.float64)
    bad = np.flatnonzero(~np.isfinite(bounds).all(axis=1))
    if len(bad):
        lo, hi = bounds[bad[0]]
        raise ValueError(
            f"non-finite feature value in dimension {bad[0]} (min {lo}, max {hi}); "
            "features must be finite"
        )
    ragged = [r["idx"] for r in rows if r["n"] != n]
    if ragged:
        raise ValueError(
            f"ragged feature arrays: {rows[ragged[0]]['n']} rows reach dimension {ragged[0]}, "
            f"{n} reach dimension 0; every row must have the same length"
        )
    return int(n), len(rows), int(k), bounds


def _layout(rows, parts):
    """``rows`` split over ``parts`` partitions: one, three round-robin,
    or seven with an empty and a one-row partition first."""
    if parts == 1:
        return [rows]
    if parts == 3:
        return [rows[i::3] for i in range(3)]
    return [[], rows[:1]] + [rows[1 + i :: 5] for i in range(5)]


def _frame(spark, rows, parts):
    split = _layout(rows, parts)
    rdd = spark.sparkContext.parallelize(range(len(split)), len(split)).flatMap(lambda i: split[i])
    df = spark.createDataFrame(rdd, SCHEMA)
    assert df.rdd.getNumPartitions() == len(split)
    return df


def _grid():
    """Integer-grid features with duplicate points; labels 1-4, some null."""
    return [(i, [float(i % 5), float(i % 3), float((i * 7) % 4)], None if i % 6 == 0 else 1 + i % 4) for i in range(40)]


def _signed_zeros():
    """Dimension 0 has its min at ±0.0, dimension 1 its max."""
    z = [0.0, -0.0]
    return [(i, [z[i % 2] if i % 3 else 2.0, -z[i % 2] if i % 4 else -3.0], 1 + i % 3) for i in range(30)]


def _duplicates():
    """Every row twice: duplicate ids, so (hash, id) ties."""
    base = [(i, [float(i % 4), float(i // 4)], 1 + i % 2) for i in range(15)]
    return base + base[::-1]


def _null_labels():
    """All labels null but two: k = 2, as countDistinct."""
    return [(i, [float(i), float(-i)], (1 if i == 3 else 2) if i in (3, 8) else None) for i in range(25)]


DATASETS = {
    "grid": (_grid, None),
    "signed_zeros": (_signed_zeros, None),
    "duplicates": (_duplicates, None),
    "null_labels": (_null_labels, None),
    "one_row": (lambda: [(5, [1.5, -0.0, 3.0], 1)], 2),
}


@pytest.mark.parametrize("sample_size", [7, 1000])
@pytest.mark.parametrize("parts", [1, 3, 7])
@pytest.mark.parametrize("data", list(DATASETS))
def test_corpus_stats_matches_relational_plans(spark, data, parts, sample_size):
    make, k_hint = DATASETS[data]
    df = _frame(spark, make(), parts)
    n, d, k, bounds, sample = I.corpus_stats(df, k_hint, sample_size, 7)
    on, od, ok, obounds = _relational_stats(df, k_hint)
    assert (n, d, k) == (on, od, ok)
    np.testing.assert_array_equal(bounds, obounds)
    assert not np.signbit(bounds[bounds == 0]).any()  # a zero bound reads +0.0
    expected = I.sample_features(df, sample_size, 7)
    assert sample.shape == expected.shape == (min(sample_size, n), d)
    assert sample.tobytes() == expected.tobytes()


def _nonfinite(bad):
    rows = _grid()
    rows[17] = (17, [2.0, bad, 1.0], 2)
    return rows


def _ragged(extra, at=9):
    """Row ``at`` one longer or shorter; row 0 is the 7-partition
    layout's one-row partition, so there whole partitions differ."""
    rows = _grid()
    rows[at] = (at, [4.0, 0.0, 3.0, 8.0][: 3 + extra], 2)
    return rows


@pytest.mark.parametrize("parts", [1, 7])
@pytest.mark.parametrize(
    "rows",
    [
        _nonfinite(float("nan")),
        _nonfinite(float("inf")),
        _nonfinite(float("-inf")),
        _ragged(1),
        _ragged(-1),
        _ragged(1, at=0),
        _ragged(-1, at=0),
    ],
    ids=["nan", "inf", "-inf", "longer", "shorter", "longer_row0", "shorter_row0"],
)
def test_corpus_stats_rejects_as_relational_plan(spark, rows, parts):
    df = _frame(spark, rows, parts)
    with pytest.raises(ValueError) as oracle:
        _relational_stats(df)
    with pytest.raises(ValueError) as got:
        I.corpus_stats(df, None, 5, 7)
    assert str(got.value) == str(oracle.value)


@pytest.mark.parametrize(
    "bad, msg",
    [(None, "null features in 1 rows"), ([1.0, None, 2.0], "null features in 1 rows"), ([], "ragged feature arrays: 1 rows have no features")],
    ids=["null_array", "null_value", "empty_array"],
)
def test_corpus_stats_rejects_what_the_relational_plan_dropped(spark, bad, msg):
    rows = _grid()
    rows[4] = (4, bad, 1)
    with pytest.raises(ValueError, match=msg):
        I.corpus_stats(_frame(spark, rows, 3), None, 5, 7)


def test_corpus_stats_empty_table(spark):
    with pytest.raises(ValueError, match="empty points table"):
        I.corpus_stats(spark.createDataFrame([], SCHEMA), 2, 5, 7)


def test_smallest_orders_by_hash_then_id_and_keeps_ties():
    h = np.array([5, 5, 5, 1, 5, -2], dtype=np.int64)
    ids = np.array([3, 1, 2, 9, 1, 4], dtype=np.int64)
    x = np.arange(6, dtype=np.float64)[:, None]
    sh, sid, sx = I._smallest(h, ids, x, 5)
    assert sh.tolist() == [-2, 1, 5, 5, 5]
    assert sid.tolist() == [4, 9, 1, 1, 2]
    assert sx.ravel().tolist() == [5.0, 3.0, 1.0, 4.0, 2.0]  # the (5, 1) tie keeps input order


def test_stats_partial_keeps_the_smallest_rows_batch_by_batch(monkeypatch):
    """A task's sample is cut after every Arrow batch, yet equals the
    partition's smallest rows by (h, id)."""
    monkeypatch.setattr(I, "prepare", lambda: None)
    rng = np.random.default_rng(3)
    n, d = 200, 3
    ids = rng.permutation(n).astype(np.int64)
    h = rng.integers(-5, 5, size=n).astype(np.int64)  # many hash ties
    x = rng.normal(size=(n, d))
    feats = pa.array([list(r) for r in x], pa.list_(pa.float64()))
    table = pa.table({"id": ids, "features": feats, "h": h})
    batches = table.to_batches(max_chunksize=17)
    assert len(batches) > 5
    (out,) = I._stats_partial(batches, False, 30)
    part = pickle.loads(out.column(0)[0].as_py())
    assert part["nulls"] == 0 and part["lengths"] == {d: n}
    np.testing.assert_array_equal(part["lo"], x.min(axis=0))
    np.testing.assert_array_equal(part["hi"], x.max(axis=0))
    sh, sid, sx = part["sample"]
    order = np.lexsort((ids, h))[:30]
    assert sid.tolist() == ids[order].tolist()
    assert sx.tobytes() == x[order].tobytes()
