"""CRUD/constraint semantics mirroring the reference test suite
(/root/reference/collection/collection_test.go:54-197,
/root/reference/database/database_test.go:94-140) — every error path of
SURVEY §2.1/§2.2 plus the query-semantics fixtures of FIXTURES.md §7."""

import pytest

from go_simple_embedding_database_spark import errors
from go_simple_embedding_database_spark.database import SparkEmbeddingDatabase


@pytest.fixture()
def db(spark):
    d = SparkEmbeddingDatabase(spark)
    d.add_collection("c1", "mock-constant")
    return d


def _mk(db, blob="blob", rid="r1", embedder="mock-constant"):
    return db.make_record(embedder, blob, rid)


# -- catalog ----------------------------------------------------------------

def test_add_collection_duplicate_errors(db):
    # database/database.go:100-103
    with pytest.raises(errors.CollectionExistsError):
        db.add_collection("c1", "mock-constant")


def test_make_collection_invalid_embedder_errors(db):
    # collection/collection.go:19-26 validates embedder resolution
    with pytest.raises(errors.InvalidEmbedderError):
        db.add_collection("c2", "not-an-embedder")


def test_get_collection_missing_errors(db):
    with pytest.raises(errors.CollectionNotFoundError):
        db.get_collection("nope")


def test_delete_collection_twice_errors(db):
    # database/database.go:126-137
    db.delete_collection("c1")
    with pytest.raises(errors.CollectionNotFoundError):
        db.delete_collection("c1")


def test_delete_collection_drops_records(db):
    db.add_record("c1", _mk(db))
    db.delete_collection("c1")
    db.add_collection("c1", "mock-constant")
    assert db.records_df("c1").count() == 0


def test_list_collections(db):
    db.add_collection("c2", "mock-hash-64")
    infos = db.list_collections()
    assert set(infos) == {"c1", "c2"}
    assert infos["c2"].embedder_id == "mock-hash-64"


# -- records ----------------------------------------------------------------

def test_add_and_get_record(db):
    db.add_record("c1", _mk(db, blob="hello", rid="r1"))
    row = db.get_record("c1", "r1")
    assert row.blob == "hello"
    assert list(row.embedding) == [1.0, 2.0, 3.0, 4.0, 5.0]


def test_add_duplicate_record_errors(db):
    # collection/collection.go:33-36
    db.add_record("c1", _mk(db))
    with pytest.raises(errors.RecordExistsError):
        db.add_record("c1", _mk(db))


def test_embedder_mismatch_errors(db):
    # collection/collection.go:37-39
    db.add_collection("c2", "mock-hash-64")
    rec = db.make_record("mock-hash-64", "blob", "r9")
    with pytest.raises(errors.EmbedderMismatchError):
        db.add_record("c1", rec)


def test_null_embedding_errors(db, spark):
    # collection/collection.go:40-42
    from pyspark.sql import Row

    rec = Row(id="rnull", embedder_id="mock-constant", blob="b", embedding=None)
    with pytest.raises(errors.NullEmbeddingError):
        db.add_record("c1", rec)


def test_get_missing_record_errors(db):
    with pytest.raises(errors.RecordNotFoundError):
        db.get_record("c1", "ghost")


def test_delete_record_twice_errors(db):
    db.add_record("c1", _mk(db))
    db.delete_record("c1", "r1")
    with pytest.raises(errors.RecordNotFoundError):
        db.delete_record("c1", "r1")


def test_make_record_error_embedder_propagates(db):
    # records_test.go:51-57: embed failure propagates out of MakeRecord.
    db.add_collection("c3", "mock-error")
    with pytest.raises(errors.InvalidEmbedderError):
        db.make_record("mock-error", "blob", "r1")


# -- bulk ingest ------------------------------------------------------------

def test_add_records_bulk_valid(db, spark):
    blobs = spark.createDataFrame([(f"/page/{i}", f"Content {i}") for i in range(10)],
                                  "id string, blob string")
    recs = db.make_records(blobs, "mock-constant")
    violations = db.add_records("c1", recs)
    assert violations.count() == 0
    assert db.records_df("c1").count() == 10


def test_add_records_bulk_duplicate_errors(db, spark):
    blobs = spark.createDataFrame([("a", "x")], "id string, blob string")
    db.add_records("c1", db.make_records(blobs, "mock-constant"))
    with pytest.raises(errors.RecordExistsError):
        db.add_records("c1", db.make_records(blobs, "mock-constant"))


def test_add_records_skip_mode_quarantines(db, spark):
    blobs = spark.createDataFrame([("a", "x"), ("b", "y")], "id string, blob string")
    db.add_records("c1", db.make_records(blobs, "mock-constant"))
    more = spark.createDataFrame([("b", "y2"), ("c", "z")], "id string, blob string")
    violations = db.add_records("c1", db.make_records(more, "mock-constant"),
                                on_violation="skip")
    assert [r.id for r in violations.collect()] == ["b"]
    assert db.records_df("c1").count() == 3  # a, b(original), c


def test_add_records_intra_batch_duplicates(db, spark):
    """A duplicate id WITHIN one batch must error (the reference's
    per-record loop accepts the first copy and rejects the second,
    collection/collection.go:33-36) — not insert both."""
    blobs = spark.createDataFrame([("a", "x"), ("a", "x2"), ("b", "y")],
                                  "id string, blob string")
    with pytest.raises(errors.RecordExistsError):
        db.add_records("c1", db.make_records(blobs, "mock-constant"))
    # skip mode: first copy (by blob order) inserts, second quarantines
    violations = db.add_records("c1", db.make_records(blobs, "mock-constant"),
                                on_violation="skip")
    assert [r.violation for r in violations.collect()] == ["duplicate id"]
    got = {r.id: r.blob for r in db.records_df("c1").collect()}
    assert got == {"a": "x", "b": "y"}


def test_add_records_null_embedder_is_mismatch(db, spark):
    """A NULL embedder_id can never match the collection's embedder — it
    must be counted and quarantined as a mismatch, not slip through the
    != predicate as SQL NULL."""
    recs = spark.createDataFrame(
        [("a", None, "x", [1.0, 2.0]), ("b", "mock-constant", "y", [1.0, 2.0])],
        "id string, embedder_id string, blob string, embedding array<double>")
    with pytest.raises(errors.EmbedderMismatchError):
        db.add_records("c1", recs)
    violations = db.add_records("c1", recs, on_violation="skip")
    assert [(r.id, r.violation) for r in violations.collect()] == \
        [("a", "embedder mismatch")]
    assert [r.id for r in db.records_df("c1").collect()] == ["b"]


# -- query semantics (§2.3) -------------------------------------------------

def test_query_small_collection_short_circuit(db, spark):
    # collection/collection.go:75-82: k > N returns all N, no error.
    blobs = spark.createDataFrame([(f"r{i}", f"text {i}") for i in range(3)],
                                  "id string, blob string")
    db.add_records("c1", db.make_records(blobs, "mock-constant"))
    out = db.query("c1", "anything", 10)
    assert out.count() == 3


def test_query_all_ties_exactly_k(db, spark):
    # collection_test.go:156-197: 50 records under the constant embedder —
    # every similarity ties at 1.0; exactly k must come back.
    blobs = spark.createDataFrame(
        [(f"/page/{i}", f"Content for page {i}\n") for i in range(50)],
        "id string, blob string")
    db.add_records("c1", db.make_records(blobs, "mock-constant"))
    out = db.query("c1", "Some query", 5)
    assert out.count() == 5


def test_query_returns_no_score_column(db, spark):
    blobs = spark.createDataFrame([("a", "x")], "id string, blob string")
    db.add_records("c1", db.make_records(blobs, "mock-constant"))
    out = db.query("c1", "q", 1)
    # §2.3 point 6: result is a record set, scores are not returned.
    assert "_score" not in out.columns
    assert set(out.columns) == {"collection_id", "id", "embedder_id", "blob", "embedding"}


def test_query_ranks_by_cosine(db, spark):
    # Distinct-vector ranking with the hash embedder: querying with an
    # exact stored blob must put that record in the top-1 (self-sim = 1.0).
    db.add_collection("h", "mock-hash-64")
    blobs = spark.createDataFrame([(f"d{i}", f"document number {i}") for i in range(20)],
                                  "id string, blob string")
    db.add_records("h", db.make_records(blobs, "mock-hash-64"))
    out = db.query("h", "document number 7", 1).collect()
    assert out[0].id == "d7"


def test_query_missing_collection_errors(db):
    with pytest.raises(errors.CollectionNotFoundError):
        db.query("ghost", "q", 3)


def test_parquet_roundtrip(db, spark, tmp_path):
    blobs = spark.createDataFrame([(f"r{i}", f"text {i}") for i in range(5)],
                                  "id string, blob string")
    db.add_records("c1", db.make_records(blobs, "mock-constant"))
    path = str(tmp_path / "store")
    db.save_parquet(path)
    db2 = SparkEmbeddingDatabase.load_parquet(spark, path)
    assert set(db2.list_collections()) == {"c1"}
    assert db2.records_df("c1").count() == 5
    assert db2.get_record("c1", "r3").blob == "text 3"


def test_parquet_roundtrip_empty_catalog(spark, tmp_path):
    """An empty database saves and loads: with no rows to infer from,
    the catalog and the records still read back with their schemas."""
    path = str(tmp_path / "empty")
    SparkEmbeddingDatabase(spark).save_parquet(path)
    db2 = SparkEmbeddingDatabase.load_parquet(spark, path)
    assert db2.list_collections() == {}
    assert db2.records_df().count() == 0
    assert spark.read.parquet(f"{path}/collections").schema.simpleString() \
        == "struct<collection_id:string,embedder_id:string>"


def test_compact_keeps_numeric_collection_id_a_string(spark, tmp_path):
    """A numeric-looking collection id reloads as a string, so the next
    batch still unions onto the compacted table."""
    db = SparkEmbeddingDatabase(spark)
    db.add_collection("123", "mock-constant")
    blobs = spark.createDataFrame([("a", "x")], "id string, blob string")
    db.add_records("123", db.make_records(blobs, "mock-constant"))
    db.compact(str(tmp_path / "compacted"))
    assert db._records.schema["collection_id"].dataType.simpleString() == "string"
    more = spark.createDataFrame([("b", "y")], "id string, blob string")
    db.add_records("123", db.make_records(more, "mock-constant"))
    assert sorted(r.id for r in db.records_df("123").collect()) == ["a", "b"]


def test_compact_twice_to_one_path_keeps_records(db, spark, tmp_path):
    """A second compact() to the path the records table now reads from
    raises before writing, so no record is lost; a fresh path works."""
    db.add_record("c1", _mk(db, "first", "r1"))
    path = str(tmp_path / "compacted")
    db.compact(path)
    db.add_record("c1", _mk(db, "second", "r2"))
    with pytest.raises(ValueError, match="reads from"):
        db.compact(path)
    assert sorted(r.id for r in db.records_df("c1").collect()) == ["r1", "r2"]
    assert sorted(r.id for r in db.query("c1", "q", 5).collect()) == \
        ["r1", "r2"]
    db.compact(str(tmp_path / "fresh"))
    assert sorted(r.id for r in db.records_df("c1").collect()) == ["r1", "r2"]
    with pytest.raises(ValueError, match="reads from"):
        SparkEmbeddingDatabase.load_parquet(spark, path).save_parquet(path)


def _persistent_rdd_ids(spark) -> set:
    return {int(k) for k in
            spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _skip_batch(db, spark, ids):
    blobs = spark.createDataFrame([(i, f"text {i}") for i in ids],
                                  "id string, blob string")
    return db.add_records("c1", db.make_records(blobs, "mock-constant"),
                          on_violation="skip")


def test_skip_mode_validation_is_not_rederived(db, spark):
    """A skip-mode batch is validated once, into a checkpoint: after two
    batches the records table's executed plan holds neither the
    validation window nor the duplicate-id join of either batch."""
    _skip_batch(db, spark, ["a", "b"])
    v = _skip_batch(db, spark, ["b", "c"])
    assert [(r.id, r.violation) for r in v.collect()] == [("b", "duplicate id")]
    plan = db._records._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Join" not in plan
    assert sorted(r.id for r in db.records_df("c1").collect()) == ["a", "b", "c"]


def test_skip_mode_partitions_planted_batch(db, spark):
    """Every row of a batch is either inserted or reported as exactly one
    violation, with the reference's check order: duplicate id (against
    the collection or an earlier copy in the batch), then embedder
    mismatch (NULL embedder included), then NULL embedding."""
    _skip_batch(db, spark, ["a", "b"])
    v = [1.0, 0.0]
    batch = spark.createDataFrame([
        ("a", "mock-constant", "x", v),       # exists already
        ("d", "mock-constant", "d1", v),      # first copy: inserted
        ("d", "mock-constant", "d2", v),      # later copy in the batch
        ("e", "mock-hash-64", "e", v),
        ("f", None, "f", v),
        ("g", "mock-constant", "g", None),
        ("b", "mock-hash-64", "b", None),     # duplicate wins the order
        ("h", "mock-constant", "h", v),
    ], "id string, embedder_id string, blob string, embedding array<double>")
    violations = sorted(
        (r.id, r.violation) for r in
        db.add_records("c1", batch, on_violation="skip").collect())
    assert violations == [
        ("a", "duplicate id"), ("b", "duplicate id"), ("d", "duplicate id"),
        ("e", "embedder mismatch"), ("f", "embedder mismatch"),
        ("g", "null embedding")]
    inserted = {r.id: r.blob for r in db.records_df("c1").collect()}
    assert inserted == {"a": "text a", "b": "text b", "d": "d1", "h": "h"}
    batch_ids = sorted(r.id for r in batch.collect())
    new_ids = [i for i in inserted if i not in ("a", "b")]
    assert sorted([i for i, _ in violations] + new_ids) == batch_ids


def test_compact_frees_validation_checkpoints(db, spark, tmp_path):
    """compact() frees every RDD the skip-mode batches persisted — the
    make_records caches and the validation checkpoints alike (unpersist()
    alone would leave the checkpoints in place)."""
    before = _persistent_rdd_ids(spark)
    _skip_batch(db, spark, ["a", "b"])
    _skip_batch(db, spark, ["b", "c"])
    pinned = _persistent_rdd_ids(spark) - before
    assert pinned
    db.compact(str(tmp_path / "compacted"))
    assert db._pinned == []
    assert not pinned & _persistent_rdd_ids(spark)
    assert sorted(r.id for r in db.records_df("c1").collect()) == ["a", "b", "c"]


def test_compact_releases_pinned_batches(db, spark, tmp_path):
    """compact() truncates the union lineage to a parquet scan and
    unpersists every make_records batch (the round-1 leftover: persisted
    batches had no release hook)."""
    for b in range(3):
        blobs = spark.createDataFrame(
            [(f"b{b}r{i}", f"text {b}/{i}") for i in range(4)],
            "id string, blob string")
        db.add_records("c1", db.make_records(blobs, "mock-constant"))
    assert len(db._pinned) == 3
    assert all(d.storageLevel.useMemory for d in db._pinned)
    pinned = list(db._pinned)
    db.compact(str(tmp_path / "compacted"))
    assert db._pinned == []
    assert all(not d.storageLevel.useMemory for d in pinned)
    # data intact, catalog untouched, and the records plan is now a scan
    assert db.records_df("c1").count() == 12
    assert db.get_record("c1", "b2r3").blob == "text 2/3"
    assert "Union" not in db._records._jdf.queryExecution().executedPlan().toString()
