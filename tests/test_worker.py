"""``mopso_engine.worker.prepare``: a Python worker re-reads a zip
archive on ``importlib.invalidate_caches()`` only when it changed.

* Spark-free, on a temporary zip on ``sys.path``: an unchanged archive
  is not re-read, a rewritten one is (and its new member imports), an
  archive that cannot be stat'ed takes the eager path, ``prepare`` is
  idempotent and a no-op on CPython >= 3.13.
* Through Spark: every engine kernel leaves its worker in that state.
  Each task runs the kernel and then, in the same worker process,
  counts the archive reads of one ``invalidate_caches()``, so the check
  does not depend on which pooled worker a task lands on.
"""

import importlib
import sys
import zipfile
import zipimport

import numpy as np
import pytest

from mopso_engine import assign as A
from mopso_engine import init as I
from mopso_engine import metrics as M
from mopso_engine import objectives as O
from mopso_engine import worker
from mopso_engine.lloyd import lloyd_fit


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``_mopso_zip_a`` imported from ``sys.path``;
    the eager ``invalidate_caches`` is restored afterwards."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    arc = str(tmp_path / "probe.zip")
    _write_zip(arc, {"_mopso_zip_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(arc)
    import _mopso_zip_a  # noqa: F401  (creates the archive's zipimporter)

    yield arc
    for name in ("_mopso_zip_a", "_mopso_zip_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(arc, None)
    zipimport._zip_directory_cache.pop(arc, None)


@pytest.fixture
def reads(monkeypatch):
    """The archives ``zipimport._read_directory`` reads, in order."""
    seen = []
    read_directory = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="zipimporter no longer re-reads eagerly")
def test_eager_invalidate_rereads(zip_on_path, reads):
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1


def test_unchanged_archive_not_reread(zip_on_path, reads):
    worker.prepare()
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zip_on_path not in reads


def test_changed_archive_reread_and_new_member_imports(zip_on_path, reads):
    worker.prepare()
    _write_zip(zip_on_path, {"_mopso_zip_a.py": "X = 1\n", "_mopso_zip_b.py": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == (1 if sys.version_info < (3, 13) else 0)
    import _mopso_zip_b

    assert _mopso_zip_b.Y == 2


def test_unstatable_archive_takes_eager_path(zip_on_path, reads, tmp_path):
    worker.prepare()
    (tmp_path / "probe.zip").unlink()
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == (1 if sys.version_info < (3, 13) else 0)
    with pytest.raises(ImportError):
        import _mopso_zip_b  # noqa: F401


def test_prepare_idempotent(zip_on_path, reads):
    worker.prepare()
    installed = zipimport.zipimporter.invalidate_caches
    reads.clear()
    worker.prepare()
    assert zipimport.zipimporter.invalidate_caches is installed
    assert reads == []


def test_prepare_noop_from_313(zip_on_path, monkeypatch):
    eager = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    worker.prepare()
    assert zipimport.zipimporter.invalidate_caches is eager


def _knn(df, scope, packed):
    table = O._knn_map(df, 5, scope, packed=packed)
    table.collect()
    O._release_knn(table)


def _exact_math_pairs(df):
    table = O.knn_pairs_exact(df, 5)
    table.collect()
    O._release_knn(table)


def _evaluate(df, stack):
    table = O._knn_map(df, 5, "exact", packed=True)
    O.evaluate_solutions(table, stack)
    O._release_knn(table)


#: each engine kernel as the engine calls it: (points, centers, stack) -> None
_KERNEL_CALLS = {
    "assign": lambda df, c, stack: A.assign(df, c).collect(),
    "assign_all_solutions": lambda df, c, stack: A.assign_all_solutions(df, stack).collect(),
    "knn_exact_packed": lambda df, c, stack: _knn(df, "exact", True),
    "knn_partition_local_pairs": lambda df, c, stack: _knn(df, "partition_local", False),
    "knn_exact_math_pairs": lambda df, c, stack: _exact_math_pairs(df),
    "evaluate_solutions": lambda df, c, stack: _evaluate(df, stack),
    "assignment_report": lambda df, c, stack: M.assignment_report(df, c, df.count()),
    "silhouette_exact": lambda df, c, stack: M.silhouette_exact(df, A.assign(df, c)),
    "silhouette_all_solutions": lambda df, c, stack: M.silhouette_all_solutions(df, stack),
    "lloyd": lambda df, c, stack: lloyd_fit(df, 3, iters=1),
    "corpus_stats": lambda df, c, stack: I.corpus_stats(df, None, 50, 7),
}


@pytest.mark.parametrize("kernel", list(_KERNEL_CALLS))
def test_engine_kernel_leaves_worker_without_zip_rereads(spark, blobs_df, blobs, monkeypatch, kernel):
    """After an engine kernel ran in a worker, that worker's next
    ``invalidate_caches()`` (the one PySpark makes before every task)
    re-reads none of the unchanged archives on its path."""
    sc = spark.sparkContext
    tasks, importers, rereads = sc.accumulator(0), sc.accumulator(0), sc.accumulator(0)

    def probed(kernel_fn):
        def run(batches):
            yield from kernel_fn(batches)
            import importlib
            import sys
            import zipimport

            seen = []
            read_directory = zipimport._read_directory

            def counting(archive):
                seen.append(archive)
                return read_directory(archive)

            zipimport._read_directory = counting
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = read_directory
            tasks.add(1)
            importers.add(sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values()))
            rereads.add(len(seen))

        return run

    cls = type(blobs_df)
    for name in ("mapInPandas", "mapInArrow"):
        map_in = getattr(cls, name)
        monkeypatch.setattr(cls, name, lambda self, func, schema, *a, _m=map_in, **kw: _m(self, probed(func), schema, *a, **kw))
    centers = blobs[3]
    stack = np.stack([centers, centers[::-1], centers + 0.5])
    _KERNEL_CALLS[kernel](blobs_df, centers, stack)
    assert tasks.value > 0
    assert importers.value > 0  # pyspark.zip, py4j's zip and spark-core's jar are on every worker's path
    assert rereads.value == 0
