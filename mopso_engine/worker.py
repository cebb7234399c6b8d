"""Python-worker set-up shared by the engine's ``mapInPandas`` and
``mapInArrow`` kernels.

Before every task PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py`` ``setup_spark_files``). On CPython 3.11 and
3.12 that makes every ``zipimporter`` on the worker's path re-read its
whole archive directory: pyspark.zip, py4j's zip and spark-core's jar
(5k entries) hold ~16 importers between them, 0.15-0.26 s per task on a
4-core host. That is most of a short engine job's fixed cost.

``prepare()`` makes such a re-read happen only when an archive changed.
Each kernel calls it first, in the worker; the driver never does. The
task that first runs a kernel on a fresh worker still pays, because
PySpark invalidates before the kernel starts; with worker reuse that is
once per worker per session.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def prepare() -> None:
    """Re-read a zip archive on ``invalidate_caches`` only if its
    ``(st_ino, st_size, st_mtime_ns)`` changed since it was last read.

    Idempotent, and a no-op on CPython >= 3.13, whose zipimporter only
    drops its cache entry. Each archive's key is taken before the read
    whose directory it vouches for, so a change is never missed; on
    install each archive on the path is read once more for that reason
    (~50 ms on a 4-core host). A stat error falls back to the eager
    re-read.
    """
    if sys.version_info >= (3, 13):
        return
    importer = zipimport.zipimporter
    if getattr(importer.invalidate_caches, "_reads_if_changed", False):
        return
    eager = importer.invalidate_caches
    cache = zipimport._zip_directory_cache
    read_at: dict[str, tuple] = {}

    def read(self) -> None:
        key = _stat_key(self.archive)
        eager(self)
        if key is not None and self.archive in cache:
            read_at[self.archive] = key

    def invalidate_caches(self) -> None:
        files = cache.get(self.archive)
        key = _stat_key(self.archive)
        if files is not None and key is not None and read_at.get(self.archive) == key:
            self._files = files
        else:
            read(self)

    invalidate_caches._reads_if_changed = True
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, importer) and imp.archive not in read_at:
            read(imp)
    importer.invalidate_caches = invalidate_caches
