"""Embedder registry resolution + determinism
(/root/reference/embedders/embedders_test.go:11-22, SURVEY §2.4)."""

import math

import pytest
from pyspark.sql import functions as F

from go_simple_embedding_database_spark import errors
from go_simple_embedding_database_spark.functions.embedders import (
    HASH_DIM,
    Embedder,
    get_embedder,
    hash64_oracle_sql,
    register_embedder,
)


def test_registry_hit():
    assert get_embedder("mock-constant").embed_one("anything") == [1.0, 2.0, 3.0, 4.0, 5.0]


def test_invalid_name_errors():
    # embedders.go:93-94: "Invalid embedder name"
    with pytest.raises(errors.InvalidEmbedderError):
        get_embedder("nope")


def test_hugging_face_prefix_resolves_without_key():
    # Resolution succeeds (prefix dispatch, embedders.go:88-92); the key is
    # only required at embed time (embedders.go:28-31).
    emb = get_embedder("hugging-face/sentence-transformers/all-MiniLM-L12-v1")
    assert emb.name.startswith("hugging-face/")


def test_hugging_face_embed_without_key_errors(monkeypatch):
    monkeypatch.delenv("HUGGING_FACE_API_KEY", raising=False)
    emb = get_embedder("hugging-face/some-model")
    with pytest.raises(errors.InvalidEmbedderError, match="HUGGING_FACE_API_KEY"):
        emb.embed_one("text")


def test_register_custom():
    register_embedder(Embedder(
        name="custom-2d", dim=2,
        embed_one=lambda b: [1.0, 0.0],
        column=lambda c: F.array(F.lit(1.0), F.lit(0.0)),
    ))
    assert get_embedder("custom-2d").embed_one("x") == [1.0, 0.0]


def test_mock_error_raises():
    with pytest.raises(errors.InvalidEmbedderError):
        get_embedder("mock-error").embed_one("x")


def test_hash64_unit_norm_and_determinism():
    e = get_embedder("mock-hash-64")
    v1, v2 = e.embed_one("hello"), e.embed_one("hello")
    assert v1 == v2
    assert len(v1) == HASH_DIM
    assert math.isclose(sum(x * x for x in v1), 1.0, rel_tol=1e-12)
    assert e.embed_one("other") != v1


def test_hash64_spark_matches_python(spark):
    """The bulk column face must produce the identical vector, bit for
    bit, as the driver-side Python recipe: a query for a just-ingested
    blob then scores exactly 1.0 against its stored vector."""
    e = get_embedder("mock-hash-64")
    blobs = ["hello", "wörld", ""] + [f"blob {i}" for i in range(250)]
    df = spark.createDataFrame([(b,) for b in blobs], "blob string")
    rows = {r.blob: list(r.v) for r in
            df.select("blob", e.column(F.col("blob")).alias("v")).collect()}
    assert [b for b in blobs if rows[b] != e.embed_one(b)] == []


def test_hash64_duckdb_oracle_matches_python():
    """The DuckDB SQL recipe must reproduce the same vector — it is the
    driver's oracle for every ingest-with-embedding query."""
    import duckdb

    sql = hash64_oracle_sql("'hello'")
    vec = duckdb.sql(f"SELECT {sql} AS v").fetchone()[0]
    py = get_embedder("mock-hash-64").embed_one("hello")
    assert vec == pytest.approx(py, abs=1e-12)


def test_constant_embedder_is_native(spark):
    from go_simple_embedding_database_spark.plans.explain_utils import formatted_plan

    e = get_embedder("mock-constant")
    df = spark.createDataFrame([("a",)], "blob string").select(e.column(F.col("blob")))
    assert "EvalPython" not in formatted_plan(df)
