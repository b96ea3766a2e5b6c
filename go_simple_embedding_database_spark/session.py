"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]``; the configuration below is chosen
so the same logical plans scale to a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong, AQE fixes it at runtime.
- Arrow enabled — every Pandas-UDF boundary (embedders, multimodal decode)
  moves data as Arrow batches, not pickled rows.
- ``spark.sql.shuffle.partitions`` defaults to a small local value; on a
  real cluster this is overridden (AQE coalescing makes the initial number
  mostly a ceiling).
- ``spark.python.daemon.module`` is ``worker_daemon``: PySpark's daemon
  with ``zipimporter.invalidate_caches`` replaced. Stock PySpark ends
  every Python task's set-up with ``importlib.invalidate_caches()``, and
  on CPython 3.11 that re-parses the central directory of every zip on
  the worker path (``pyspark.zip``, the py4j zip, the spark-core jar:
  ~27k entries through 16 importers): 0.23–0.32 s of CPU per task, and
  as much wall time on every Python stage's critical path, on a 4-core
  box (CPython 3.11.7, PySpark 4.1.2). The daemon stamps each archive
  once, before it forks a worker, and a task re-reads an archive only
  when its ``(st_mtime_ns, st_size, st_ino)`` stamp has changed or
  ``os.stat`` fails — so an archive rewritten in place is still re-read.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Repo root (the parent of this package) — exported to Python workers so
# cloudpickled UDFs can re-import the package regardless of the driver's cwd.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ensure_parallelism memo: (sorted input files, parallelism) -> split
# count. ``df.rdd.getNumPartitions()`` forces a physical-plan-to-RDD
# translation costing 50-120 ms of driver time PER CALL; a bench/driver
# process probes the same parquet inputs dozens of times, so the count is
# remembered per file set. Sound because the helper's contract is scan-
# rooted (scan + narrow transforms) inputs — those partition exactly like
# their file scan — and parquet overwrites produce fresh part-file names,
# so a rewritten source never reuses a stale entry. In-memory inputs
# (no files) are never memoized.
_PARALLELISM_MEMO: dict[tuple, int] = {}


def ensure_parallelism(df):
    """Lift a few-splits DataFrame to cluster parallelism before a
    CPU-bound stage. Small parquet inputs (one row group) arrive as ONE
    split — a per-row md5/regex stage then runs on one core while the rest
    of the cluster idles. The shuffle moves only the (small) input; the
    expensive compute fans out. No-op when the input already has enough
    partitions (a 100 TB table has thousands of splits). Intended for
    scan-rooted DataFrames (file scan + narrow transforms); see the memo
    note above."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:
        files = ()
    key = (files, parallelism) if files else None
    n = _PARALLELISM_MEMO.get(key) if key is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            _PARALLELISM_MEMO[key] = n
    if n < parallelism:
        return df.repartition(parallelism)
    return df


def get_spark(
    app_name: str = "go_simple_embedding_database_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Env overrides: ``SPARK_GRAFT_CPUS`` (local parallelism),
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # cpus doubles as the default partition count only when numeric —
        # SPARK_GRAFT_CPUS='*' (a valid local[*] request) must not crash
        # the int() here.
        fallback = cpus if cpus and cpus.isdigit() else "32"
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", fallback)
        )
    pythonpath = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + pythonpath if pythonpath else "")
        )
    builder = (
        SparkSession.builder.master(master)
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # see the module docstring; the workers import it from the repo
        # root on their PYTHONPATH
        .config("spark.python.daemon.module",
                "go_simple_embedding_database_spark.worker_daemon")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs evaluate as ArrowEvalPythonUDTF (Arrow batch
        # transfer) instead of BatchEvalPythonUDTF (row pickling) — the
        # same vectorization contract every scalar UDF on the surface
        # already meets, and what lets the whole-surface plan sweep
        # (tests/test_plans.py) forbid BatchEvalPython with no allowlist.
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in sources.tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Pin the warehouse (managed/bucketed tables) to a stable location:
        # the default is ./spark-warehouse, which silently forks table state
        # per working directory.
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               os.path.join(_REPO_ROOT, "spark-warehouse")))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
