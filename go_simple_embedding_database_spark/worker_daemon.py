"""PySpark's worker daemon, minus the per-task zip-directory re-reads.

Every Python task (RDD map, ``pandas_udf``, ``mapInArrow``) starts in
PySpark's ``worker_util.setup_spark_files``, which ends with
``importlib.invalidate_caches()``. On CPython 3.11 that calls
``zipimport.zipimporter.invalidate_caches`` on every cached zip importer,
and each call re-parses its archive's whole central directory. The worker
path holds ``pyspark.zip``, the py4j zip and the spark-core jar behind
about 16 importers: ~27k directory entries, 0.23–0.32 s of CPU per task
before any user code runs.

This module replaces that method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size, st_ino)`` stamp differs from the stamp
taken before its last read, or when ``os.stat`` fails. Importers of one
archive share one read. The stamps are taken once here, in the daemon,
before it forks any worker, so every forked worker inherits them and pays
a few ``stat`` calls per task instead. An archive rewritten in place gets
a new stamp and is re-read; a zip a task adds to its own ``sys.path`` is
read on its first invalidation and stamped then. A rewrite that keeps the
size and inode within the filesystem's timestamp granularity is the one
change the stamp cannot see.

``session.get_spark`` names this module as ``spark.python.daemon.module``;
Spark runs it as ``python -m`` with the worker module as ``argv[1]``,
which ``pyspark.daemon`` reads as usual. The package ``__init__`` is lazy,
so the daemon imports only what ``pyspark.daemon`` imports, plus this
module, and forks the same process image as PySpark's own daemon.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> stamp taken just before the directory now held in
# zipimport._zip_directory_cache was read
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        _read_stamps.pop(archive, None)
        _reread(self)
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _read_stamps.get(archive) == stamp:
        self._files = files
        return
    _reread(self)
    if archive in zipimport._zip_directory_cache:
        _read_stamps[archive] = stamp
    else:
        _read_stamps.pop(archive, None)


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    # stamp every archive behind the cached importers, one read each,
    # before manager() forks the first worker
    importlib.invalidate_caches()
    manager()
