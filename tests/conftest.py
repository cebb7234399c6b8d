import numpy as np
import pytest
from pyspark.sql import SparkSession


def make_spark() -> SparkSession:
    """The tests' session; ``tools/report_fixture.py`` records its values
    with the same settings."""
    import tempfile

    s = (
        SparkSession.builder.master("local[4]")
        .appName("mopso-engine-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        # bucketed-table tests saveAsTable; keep the warehouse out of the repo
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="mopso-warehouse-"))
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("WARN")
    return s


@pytest.fixture(scope="session")
def spark():
    s = make_spark()
    yield s
    s.stop()


def make_blobs(n=300, d=4, k=3, seed=7, spread=0.3, sep=10.0):
    """FIXTURES.md F1 points_blobs_small-style labeled gaussian blobs.

    Returns (ids, X, labels 1-based, true_centers)."""
    rng = np.random.default_rng(seed)
    centers = rng.uniform(-1, 1, size=(k, d)) * sep
    labels = rng.integers(0, k, size=n)
    x = centers[labels] + rng.normal(scale=spread, size=(n, d))
    return np.arange(n, dtype=np.int64), x, (labels + 1).astype(np.int32), centers


@pytest.fixture(scope="session")
def blobs():
    return make_blobs()


@pytest.fixture(scope="session")
def blobs_df(spark, blobs):
    ids, x, labels, _ = blobs
    rows = [(int(i), [float(v) for v in xi], int(l)) for i, xi, l in zip(ids, x, labels)]
    return spark.createDataFrame(rows, "id long, features array<double>, label int").cache()


def oracle_assign(x: np.ndarray, centers: np.ndarray):
    """Literal re-implementation of the reference assignment
    (Spark_MOPSO_Avg.scala:660-675): sequential-fold distance + first-min."""
    d = np.sqrt(((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2))
    cl = d.argmin(axis=1)
    return cl + 1, d[np.arange(len(x)), cl]


def oracle_conn(x: np.ndarray, clusters: np.ndarray, l_nbrs=10):
    """Literal Conn (Spark_MOPSO_Avg.scala:1036-1063): for each point, L
    nearest others by distance; +1/rank for same-cluster neighbors."""
    n = len(x)
    d = np.sqrt(((x[:, None, :] - x[None, :, :]) ** 2).sum(axis=2))
    np.fill_diagonal(d, np.inf)
    total = 0.0
    for i in range(n):
        order = np.argsort(d[i], kind="stable")[:l_nbrs]
        for rank, j in enumerate(order, start=1):
            if clusters[j] == clusters[i]:
                total += 1.0 / rank
    return total


def oracle_silhouette(x: np.ndarray, clusters: np.ndarray, include_self: bool = True) -> float:
    """Literal exact silhouette (Spark_MOPSO_Avg.scala:622-633): mean over
    i of (b−a)/max(a,b), a = mean distance to the own cluster (with i
    itself when ``include_self``), b = smallest mean distance to another
    cluster. A row without an own distance (a singleton and not
    ``include_self``), without another cluster, or with max(a,b) = 0
    scores nothing; no row left → 0.0."""
    d = np.sqrt(((x[:, None, :] - x[None, :, :]) ** 2).sum(axis=2))
    svals = []
    for i in range(len(x)):
        own = clusters == clusters[i]
        if not include_self:
            own[i] = False
        others = [d[i][clusters == c].mean() for c in np.unique(clusters) if c != clusters[i]]
        if not own.any() or not others:
            continue
        a, b = d[i][own].mean(), min(others)
        if max(a, b) > 0:
            svals.append((b - a) / max(a, b))
    return float(np.mean(svals)) if svals else 0.0
