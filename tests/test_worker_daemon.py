"""The engine session's Python-worker daemon (``worker_daemon``): a task's
``importlib.invalidate_caches()`` re-reads a zip only when it changed."""

from go_simple_embedding_database_spark import worker_daemon


def test_python_task_rereads_only_changed_zips(spark):
    """Inside a Python task, two ``importlib.invalidate_caches()`` calls
    read no unchanged archive of the worker path (stock PySpark on
    CPython 3.11 re-reads each one per call, through every importer); a
    zip the task puts on its own ``sys.path`` is read on its first
    invalidation, not on the next, and again after the task rewrites it,
    whose new module then imports. Counts ``zipimport._read_directory``
    calls, no timing."""
    assert (spark.sparkContext.getConf().get("spark.python.daemon.module")
            == worker_daemon.__name__)

    def probe(_):
        import importlib
        import os
        import sys
        import tempfile
        import zipfile
        import zipimport

        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        def invalidate():
            del reads[:]
            importlib.invalidate_caches()
            return list(reads)

        def write(path, names):
            with zipfile.ZipFile(path, "w") as z:
                for name in names:
                    z.writestr(f"{name}.py", f"NAME = {name!r}\n")

        worker_zips = sorted({v.archive for v in
                              sys.path_importer_cache.values()
                              if isinstance(v, zipimport.zipimporter)})
        path = os.path.join(tempfile.mkdtemp(), "task_side.zip")
        write(path, ["gsed_zip_a"])
        sys.path.insert(0, path)
        zipimport._read_directory = counting
        try:
            unchanged = [invalidate(), invalidate()]
            first = importlib.import_module("gsed_zip_a").NAME
            added = [invalidate(), invalidate()]
            write(path, ["gsed_zip_a", "gsed_zip_b"])
            rewritten = invalidate()
            second = importlib.import_module("gsed_zip_b").NAME
        finally:
            zipimport._read_directory = read_directory
            sys.path.remove(path)
            sys.path_importer_cache.pop(path, None)
            sys.modules.pop("gsed_zip_a", None)
            sys.modules.pop("gsed_zip_b", None)
        yield worker_zips, unchanged, first, added, rewritten, second

    [(worker_zips, unchanged, first, added, rewritten, second)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe)
        .collect())
    assert worker_zips, "no zip importer on the worker path"
    assert unchanged == [[], []]
    assert first == "gsed_zip_a"
    [task_zip] = added[0]
    assert task_zip.endswith("task_side.zip")
    assert added[1] == []
    assert rewritten == [task_zip]
    assert second == "gsed_zip_b"
