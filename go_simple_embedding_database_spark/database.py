"""SparkEmbeddingDatabase — catalog + CRUD + top-k query engine.

Spark-first re-expression of the reference's two nested hash maps
(/root/reference/database/database.go:27-30,
/root/reference/collection/collection.go:13-17):

- the *records* of every collection live in ONE DataFrame with schema
  ``(collection_id, id, embedder_id, blob, embedding)`` — ``collection_id``
  is the partition key, so collection isolation is partition pruning, not a
  map lookup. At 100 TB this is a partitioned Parquet/Delta table; queries
  against one collection read only its partition.
- the *catalog* (collection_id → embedder_id) is driver-side metadata,
  exactly like a Hive metastore: tiny, strongly consistent, never shuffled.

Point operations (get/delete/add of a single record) exist for reference
parity (database/database.go:75-97) and are implemented as filters /
anti-joins over the partitioned table; the scalable ingest path is
``add_records`` (bulk, validation via joins — no driver loop).

Mutability model: DataFrames are immutable, so mutation = replacing the
current records DataFrame (union for append, anti-join filter for delete).
A skip-mode ``add_records`` batch is validated ONCE, into a local
checkpoint that the union reads, so later reads never re-run an earlier
batch's validation; ``compact()`` rewrites the table as a parquet scan and
frees those checkpoints. In path-backed mode the same operations
append/rewrite Parquet partitions — the pattern Delta Lake's MERGE/DELETE
implements transactionally; plain Parquet is used here because this
container has no Delta.
"""

from __future__ import annotations

from dataclasses import dataclass
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from go_simple_embedding_database_spark import errors
from go_simple_embedding_database_spark.functions.embedders import get_embedder
from go_simple_embedding_database_spark.operators.topk import topk_by_similarity
from go_simple_embedding_database_spark.plans.checkpoints import (
    release_local_checkpoint)
from go_simple_embedding_database_spark.schema import RECORDS_SCHEMA

RECORD_COLUMNS = [f.name for f in RECORDS_SCHEMA.fields]


def shape_records(blobs: DataFrame, embedder_id: str,
                  blob_col: str = "blob", id_col: str = "id") -> DataFrame:
    """The canonical (id, embedder_id, blob, embedding) projection — the
    ONE place the records shape is defined for both batch ingest
    (``make_records``) and streaming ingest (``streaming.ingest
    .embed_stream``), so the two tables can never silently diverge."""
    emb = get_embedder(embedder_id)
    return blobs.select(
        F.col(id_col).cast("string").alias("id"),
        F.lit(embedder_id).alias("embedder_id"),
        F.col(blob_col).cast("string").alias("blob"),
        emb.column(F.col(blob_col).cast("string")).alias("embedding"),
    )


@dataclass(frozen=True)
class CollectionInfo:
    """Collection{Id, EmbedderId} minus the records map
    (collection/collection.go:13-17)."""

    collection_id: str
    embedder_id: str

    def __str__(self) -> str:  # cosmetic parity (collection/collection.go:28-30)
        return (
            f"Collection{{collection.Id: {self.collection_id}, "
            f"embedderId: {self.embedder_id}}}"
        )


class SparkEmbeddingDatabase:
    """The DataBase interface (database/database.go:15-25) on Spark."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._catalog: dict[str, CollectionInfo] = {}
        self._records: DataFrame = spark.createDataFrame([], RECORDS_SCHEMA)
        # Batches make_records persisted and the local checkpoints of
        # skip-mode validated batches; compact() releases both.
        self._pinned: list[DataFrame] = []

    # -- catalog / DDL (§2.1) ------------------------------------------------

    def add_collection(self, collection_id: str, embedder_id: str) -> CollectionInfo:
        """MakeCollection + AddCollection. Validates the embedder resolves
        (collection/collection.go:19-26) and errors on duplicate id
        (database/database.go:100-103)."""
        get_embedder(embedder_id)  # raises InvalidEmbedderError if unresolvable
        if collection_id in self._catalog:
            raise errors.CollectionExistsError(
                f"collection with id {collection_id} already exists in database"
            )
        info = CollectionInfo(collection_id, embedder_id)
        self._catalog[collection_id] = info
        return info

    def get_collection(self, collection_id: str) -> CollectionInfo:
        if collection_id not in self._catalog:
            raise errors.CollectionNotFoundError(
                f"no collection with id {collection_id} found in database"
            )
        return self._catalog[collection_id]

    def delete_collection(self, collection_id: str) -> None:
        """Drops the catalog entry AND the collection's record partition
        (database/database.go:126-137)."""
        self.get_collection(collection_id)
        del self._catalog[collection_id]
        self._records = self._records.filter(F.col("collection_id") != collection_id)

    def list_collections(self) -> dict[str, CollectionInfo]:
        return dict(self._catalog)

    def collections_df(self) -> DataFrame:
        """The catalog as a DataFrame — joinable against records for bulk
        validation (the Spark analog of GetCollections,
        database/database.go:139-144). Built from a pandas frame: with
        Arrow on, a handful of rows become a local relation instead of a
        Python-RDD job."""
        import pandas as pd

        rows = pd.DataFrame(
            [(c.collection_id, c.embedder_id) for c in self._catalog.values()],
            columns=["collection_id", "embedder_id"], dtype=object)
        return self.spark.createDataFrame(
            rows, "collection_id string, embedder_id string")

    # -- records / DML (§2.2) ------------------------------------------------

    def records_df(self, collection_id: str | None = None) -> DataFrame:
        df = self._records
        if collection_id is not None:
            self.get_collection(collection_id)
            # Partition-pruning filter: on a partitioned table this reads
            # exactly one partition's files.
            df = df.filter(F.col("collection_id") == collection_id)
        return df

    def make_record(self, embedder_id: str, blob: str, record_id: str) -> Row:
        """MakeRecord (records/records.go:81-92): eager driver-side embed of
        one blob. Bulk ingest should use ``make_records`` instead."""
        emb = get_embedder(embedder_id)
        return Row(
            id=record_id,
            embedder_id=embedder_id,
            blob=blob,
            embedding=emb.embed_one(blob),
        )

    def make_records(self, blobs: DataFrame, embedder_id: str,
                     blob_col: str = "blob", id_col: str = "id") -> DataFrame:
        """Bulk MakeRecord: embedding as a column transform over the whole
        DataFrame — batched, executor-side, no per-record round trip (the
        scalable fix for records.go:81-92 + embedders.go:40-51)."""
        emb = get_embedder(embedder_id)
        # Embedding is CPU-bound, not IO-bound: a small parquet input often
        # arrives as ONE split (files.maxPartitionBytes), which would leave
        # every other core idle through the most expensive stage of ingest.
        # Repartition up to the cluster's parallelism — but no wider than
        # the data warrants (Catalyst's size estimate, ~1 MiB of blobs per
        # task floor): fanning 50 rows out to 32 shuffle partitions costs
        # more in task/Arrow overhead than the embedding itself.
        parallelism = blobs.sparkSession.sparkContext.defaultParallelism
        try:
            est_bytes = int(
                blobs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except Exception:  # stats unavailable -> assume large
            est_bytes = 1 << 60
        target = max(1, min(parallelism, est_bytes >> 20))
        if blobs.rdd.getNumPartitions() < target:
            blobs = blobs.repartition(target)
        out = shape_records(blobs, embedder_id, blob_col, id_col)
        # Persist across the validation joins and the insert: embedding is
        # the expensive stage and must run ONCE per blob, not once per
        # downstream action. The cache must outlive add_records (the
        # records table's lineage references it) — ``compact()`` is the
        # release hook: sessions ingesting many batches call it
        # periodically to truncate lineage and drop these caches (the
        # warehouse-scale analog of a staging-table checkpoint).
        out = out.persist()
        self._pinned.append(out)
        return out

    def compact(self, path: str) -> None:
        """Lineage/cache maintenance for long ingest sessions: write the
        records table to parquet, reload its records as the new scan
        baseline, and release every batch ``make_records`` pinned and
        every checkpoint a skip-mode ``add_records`` took. Without this
        the union lineage deepens per batch and the pinned embedding
        caches accumulate for the life of the session. A violations frame
        returned by a skip-mode ``add_records`` reads its batch's
        checkpoint, so consume it before the next ``compact()``. ``path``
        must not be where the records table reads from, such as the
        previous ``compact``'s path: ``save_parquet`` raises
        ``ValueError`` for it and nothing changes."""
        self.save_parquet(path)
        self._records = _read_records(self.spark, path)
        for df in self._pinned:
            # unpersist() is a no-op on a local checkpoint
            if not release_local_checkpoint(df):
                df.unpersist()
        self._pinned.clear()

    def add_record(self, collection_id: str, record: Row) -> None:
        """Single-record insert with the reference's three constraint checks,
        in its check order (collection/collection.go:32-45)."""
        info = self.get_collection(collection_id)
        rec = record.asDict()
        if self.records_df(collection_id).filter(F.col("id") == rec["id"]).limit(1).count() > 0:
            raise errors.RecordExistsError(
                f"record with id {rec['id']} already exists in collection"
            )
        if rec["embedder_id"] != info.embedder_id:
            raise errors.EmbedderMismatchError(
                f"record embedder {rec['embedder_id']} does not match "
                f"collection embedder {info.embedder_id}"
            )
        if rec.get("embedding") is None:
            raise errors.NullEmbeddingError("record has no embedding")
        new = self.spark.createDataFrame(
            [(collection_id, rec["id"], rec["embedder_id"], rec["blob"],
              [float(v) for v in rec["embedding"]])],
            RECORDS_SCHEMA,
        )
        self._records = self._records.unionByName(new)

    def add_records(self, collection_id: str, records: DataFrame,
                    on_violation: str = "error") -> DataFrame:
        """Bulk insert. The three reference constraints become set-level
        validation joins (no driver loop):

        - duplicate id   → left-semi join against existing ids
          (collection/collection.go:33-36)
        - embedder match → filter against the collection's embedder
          (collection/collection.go:37-39)
        - null embedding → isNull filter (collection/collection.go:40-42)

        ``on_violation``: 'error' raises listing violation counts (strict
        reference parity); 'skip' inserts only the valid rows and returns
        the violations DataFrame for the caller to inspect/quarantine —
        the 100 TB-friendly mode (a single bad row must not kill a 10-hour
        ingest; quarantine-and-continue is the standard pipeline pattern).

        In 'skip' mode the validated batch is materialised once, as an
        eager local checkpoint that both the inserted rows and the
        returned violations read — the reference checks each record once,
        at insert (collection/collection.go:32-45), and so does this: no
        later read of the records table re-runs the batch's validation.
        The checkpoint lives until the next ``compact()``, so consume the
        violations frame before then.
        """
        info = self.get_collection(collection_id)
        records = records.select(
            F.col("id").cast("string"),
            F.col("embedder_id").cast("string"),
            F.col("blob").cast("string"),
            F.col("embedding").cast("array<double>"),
        )
        existing_ids = self.records_df(collection_id).select("id")
        # One window + one left join + one map-side-combined global agg
        # checks all three constraints in a single job (the per-branch
        # union + groupBy variant evaluated the batch three times and
        # shuffled by violation kind). The id-window and the id-join share
        # a hash partitioning, so this is still one shuffle of the batch.
        from pyspark.sql import Window

        w = Window.partitionBy("id").orderBy("blob", "embedder_id")
        flagged = (records.withColumn("_copy", F.row_number().over(w))
                   .join(existing_ids.withColumn("_dup", F.lit(1)), "id", "left"))
        # Duplicate = id already in the collection OR a later copy within
        # this batch (the reference's per-record loop accepts the first
        # and rejects the rest, collection/collection.go:33-36).
        dup_f = F.col("_dup").isNotNull() | (F.col("_copy") > 1)
        # NULL embedder can never equal the collection's — a plain !=
        # yields NULL and slips through both the error counts and the
        # violations listing.
        mis_f = (F.col("embedder_id").isNull()
                 | (F.col("embedder_id") != info.embedder_id))
        nul_f = F.col("embedding").isNull()
        # All three flags are non-NULL booleans, so a NULL violation is
        # exactly a valid row.
        violation = (F.when(dup_f, "duplicate id")
                     .when(mis_f, "embedder mismatch")
                     .when(nul_f, "null embedding").alias("violation"))

        if on_violation == "error":
            c = flagged.agg(
                F.sum(dup_f.cast("long")).alias("dup"),
                F.sum(mis_f.cast("long")).alias("mis"),
                F.sum(nul_f.cast("long")).alias("nul"),
            ).collect()[0]
            if c.dup:
                raise errors.RecordExistsError(f"{c.dup} duplicate record id(s)")
            if c.mis:
                raise errors.EmbedderMismatchError(
                    f"{c.mis} record(s) with mismatched embedder")
            if c.nul:
                raise errors.NullEmbeddingError(f"{c.nul} null embedding(s)")
            checked = flagged.select("id", violation)
            valid = records
        else:
            # Eager, not persist(): the checkpoint job runs under AQE
            # coalescing and cuts the union lineage at the batch.
            checked = flagged.select(*records.columns, violation) \
                .localCheckpoint()
            self._pinned.append(checked)
            valid = checked.filter(F.col("violation").isNull())

        new = valid.select(F.lit(collection_id).alias("collection_id"), *[c for c in RECORD_COLUMNS if c != "collection_id"])
        self._records = self._records.unionByName(new)
        return checked.filter(F.col("violation").isNotNull()) \
            .select("id", "violation")

    def get_record(self, collection_id: str, record_id: str) -> Row:
        """Point lookup (database/database.go:83-89): partition-pruned filter."""
        rows = self.records_df(collection_id).filter(F.col("id") == record_id).limit(1).collect()
        if not rows:
            raise errors.RecordNotFoundError(
                f"no record with id {record_id} found in collection {collection_id}"
            )
        return rows[0]

    def delete_record(self, collection_id: str, record_id: str) -> None:
        """Delete-by-key (database/database.go:91-97). Existence pre-check
        reproduces the reference's error; the delete itself is an
        anti-filter (Delta DELETE WHERE at scale)."""
        self.get_record(collection_id, record_id)
        self._records = self._records.filter(
            ~((F.col("collection_id") == collection_id) & (F.col("id") == record_id))
        )

    # -- query (§2.3) --------------------------------------------------------

    def query(self, collection_id: str, query_blob: str, n_greatest: int,
              with_scores: bool = False) -> DataFrame:
        """Top-k most-similar records (collection/collection.go:64-151).

        1. the query blob is embedded with the COLLECTION's embedder
           (collection.go:66-73) — embed errors propagate before any scan;
        2. top-k via orderBy(desc).limit(k) → Catalyst plans
           TakeOrderedAndProject (per-partition heaps + driver merge, no
           global sort — the fix for the reference's full O(N log N) sort,
           collection.go:98-103);
        3. small-collection short-circuit (collection.go:75-82) falls out of
           ``limit``: fewer than k rows → all rows, no error;
        4. ties at the k-th score: ``limit`` keeps an arbitrary subset of the
           tied rows, exactly k returned — matching the reference's
           map-order tie fill (collection.go:105-135);
        5. scores are dropped from the result (collection.go point 6: the
           result is a set, not a ranked list) unless ``with_scores``.
        """
        info = self.get_collection(collection_id)
        qvec = get_embedder(info.embedder_id).embed_one(query_blob)
        return self.query_vector(collection_id, qvec, n_greatest, with_scores)

    def query_vector(self, collection_id: str, qvec: list[float], n_greatest: int,
                     with_scores: bool = False) -> DataFrame:
        recs = self.records_df(collection_id)
        out = topk_by_similarity(recs, qvec, n_greatest, vec_col="embedding",
                                 score_col="_score")
        if not with_scores:
            out = out.drop("_score")
        return out

    # -- persistence (§1.4) --------------------------------------------------

    def to_file(self, path: str) -> None:
        from go_simple_embedding_database_spark.sources.json_wire import database_to_file
        database_to_file(self, path)

    @classmethod
    def from_file(cls, spark: SparkSession, path: str) -> "SparkEmbeddingDatabase":
        from go_simple_embedding_database_spark.sources.json_wire import database_from_file
        return database_from_file(spark, path)

    def save_parquet(self, path: str, mode: str = "overwrite") -> None:
        """Native scalable storage: records partitioned by collection_id
        (SURVEY §1.3). Catalog is embedded as a tiny side table.

        Raises ``ValueError``, before writing anything, when ``path`` is
        where the records table currently reads from (a second
        ``compact`` to one path, or a save after ``load_parquet`` of the
        same path): the overwrite would delete those files while the
        write is still reading them."""
        def key(uri: str) -> tuple[str, str, str]:
            u = urlsplit(uri)
            return u.scheme, u.netloc, unquote(u.path).rstrip("/")

        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(f"{path}/records")
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        scheme, netloc, root = key(fs.makeQualified(jpath).toUri().toString())
        if any(k[:2] == (scheme, netloc) and k[2].startswith(root + "/")
               for k in map(key, self._records.inputFiles())):
            raise ValueError(
                f"cannot save to {path!r}: the records table reads from "
                f"it; save to another path")
        self._records.write.mode(mode).partitionBy("collection_id").parquet(f"{path}/records")
        self.collections_df().write.mode(mode).parquet(f"{path}/collections")

    @classmethod
    def load_parquet(cls, spark: SparkSession, path: str) -> "SparkEmbeddingDatabase":
        db = cls(spark)
        for r in spark.read.parquet(f"{path}/collections").collect():
            db._catalog[r.collection_id] = CollectionInfo(r.collection_id, r.embedder_id)
        db._records = _read_records(spark, path)
        return db


def _read_records(spark: SparkSession, path: str) -> DataFrame:
    """The records table ``save_parquet`` wrote under ``path``, read with
    the canonical column types rather than inferred ones: an empty table
    has no data files to infer from, and partition-column inference would
    read a numeric-looking collection_id directory ('123') as a long that
    the next unionByName with a string batch rejects under ANSI. (A DDL
    schema, not RECORDS_SCHEMA itself: parquet reads arrays with
    containsNull=true.)"""
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                    for f in RECORDS_SCHEMA.fields)
    return spark.read.schema(ddl).parquet(f"{path}/records") \
        .select(*RECORD_COLUMNS)
