"""go_simple_embedding_database_spark — a PySpark-native embedding-database
and training-data-pipeline engine.

Re-expresses the capability surface of the reference
(WillChangeThisLater/go-simple-embedding-database, see /root/reference) on
Spark DataFrames, designed for 100 TB scale:

- ``database``       — catalog + CRUD + top-k query engine
                       (reference: database/database.go, collection/collection.go)
- ``functions``      — cosine kernel, embedder registry, text analysis,
                       cross-engine hashing (reference: utils/utils.go,
                       embedders/embedders.go)
- ``operators``      — top-k / similarity join / dedup / ANN / multimodal
- ``sources``        — reference JSON wire format + parquet native storage
                       (reference: database/database.go:146-182)
- ``plans``          — explain-plan introspection helpers (pushdown checks)
- ``streaming``      — Structured Streaming ingest (watermark + dedup)

Everything is declarative DataFrame API so Catalyst/Tungsten pick the
physical strategy; Python UDFs appear only where built-ins cannot express
the semantics (remote embedding HTTP, multimodal decode stubs).

The two public names load on first use, so importing a submodule alone
(the Python-worker daemon, ``worker_daemon``) does not pull in the engine,
pandas and pyarrow.
"""

__all__ = ["get_spark", "SparkEmbeddingDatabase"]

__version__ = "0.1.0"


def __getattr__(name):
    if name == "get_spark":
        from go_simple_embedding_database_spark.session import get_spark
        return get_spark
    if name == "SparkEmbeddingDatabase":
        from go_simple_embedding_database_spark.database import (
            SparkEmbeddingDatabase)
        return SparkEmbeddingDatabase
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
