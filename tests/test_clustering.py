"""k-means / SemDeDup operator tests (operators/clustering.py).

Semantics oracle discipline mirrors the reference's tests
(/root/reference/collection/collection_test.go:156-197 pins exact query
results): every property here is checked against an independent
formulation — a NumPy reimplementation of Lloyd's protocol for the fit,
the exact O(N^2) pair scan for SemDeDup recall.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from go_simple_embedding_database_spark.operators.clustering import (
    kmeans_assign, kmeans_fit, semantic_dedup_pairs)
from go_simple_embedding_database_spark.plans.explain_utils import (
    assert_not_in_plan)


def _numpy_kmeans(vecs: dict[int, list[float]], k: int, n_iter: int,
                  scale: int = 1000):
    """Driver-side reimplementation of the exact protocol (quantize,
    smallest-id seeds, integer sums, sum/n centroids, argmin with
    smallest-index ties)."""
    ids = sorted(vecs)
    q = {i: np.round(np.asarray(vecs[i], dtype=np.float64) * scale).astype(
        np.int64) for i in ids}
    cents = [q[i].astype(np.float64) for i in ids[:k]]
    for _ in range(n_iter):
        assign = {}
        for i in ids:
            d = [float(((q[i] - c) ** 2).sum()) for c in cents]
            assign[i] = int(np.lexsort((range(k), d))[0])
        for j in range(k):
            members = [q[i] for i in ids if assign[i] == j]
            if members:
                s = np.sum(members, axis=0)
                cents[j] = s.astype(np.float64) / len(members)
    assign = {}
    for i in ids:
        d = [float(((q[i] - c) ** 2).sum()) for c in cents]
        assign[i] = int(np.lexsort((range(k), d))[0])
    return assign, cents


def test_kmeans_matches_numpy_protocol(spark, embeddings):
    sub = embeddings.filter(F.col("vec_id") < 60)
    got, cents = kmeans_fit(sub, k=4, n_iter=2)
    vecs = {r.vec_id: list(r.embedding)
            for r in sub.select("vec_id", "embedding").collect()}
    want_assign, want_cents = _numpy_kmeans(vecs, k=4, n_iter=2)
    got_assign = {r.vec_id: r.cluster_id for r in got.collect()}
    assert got_assign == want_assign
    for c_got, c_want in zip(cents, want_cents):
        assert c_got == pytest.approx(list(c_want), abs=0)  # bit-exact


def test_kmeans_partitions_all_rows_once(spark, embeddings):
    assign, _ = kmeans_fit(embeddings, k=8, n_iter=1)
    n = embeddings.count()
    assert assign.count() == n
    assert assign.select("vec_id").distinct().count() == n
    cells = {r.cluster_id for r in assign.select("cluster_id").distinct().collect()}
    assert cells <= set(range(8))


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # 3 identical far points + 1 seed that immediately loses all members:
    # its centroid must survive (not NaN) so the cell ids stay stable.
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [10.0, 10.0]),
         (3, [10.0, 10.0])], "vec_id long, embedding array<double>")
    assign, cents = kmeans_fit(df, k=2, n_iter=2)
    assert all(np.isfinite(c).all() for c in (np.asarray(c) for c in cents))
    got = {r.vec_id: r.cluster_id for r in assign.collect()}
    assert got[1] == got[2] == got[3]


def test_kmeans_fit_validates(spark, embeddings):
    with pytest.raises(ValueError):
        kmeans_fit(embeddings, k=0, n_iter=1)
    with pytest.raises(ValueError):
        kmeans_fit(embeddings.limit(3), k=5, n_iter=1)


def test_assign_plan_is_exchange_free(spark, embeddings):
    """Assignment is a pure projection: no shuffle, no Python."""
    assigned = kmeans_assign(embeddings, [[0.0] * 64, [1000.0] * 64])
    assert_not_in_plan(assigned, "Exchange", "BatchEvalPython",
                       "ArrowEvalPython")


def test_semantic_dedup_finds_within_cell_pairs(spark, embeddings):
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    dup = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 5000).alias("vec_id"), "embedding")
    uni = emb.unionByName(dup)
    _, cents = kmeans_fit(uni, k=4, n_iter=1)
    pairs = semantic_dedup_pairs(uni, cents, threshold=0.999999)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # Exact copies share the cell by construction -> all 10 pairs found.
    assert {(i, i + 5000) for i in range(10)} <= got


def test_semantic_dedup_no_cartesian(spark, embeddings):
    _, cents = kmeans_fit(embeddings, k=4, n_iter=0)
    pairs = semantic_dedup_pairs(embeddings, cents, threshold=0.9)
    assert_not_in_plan(pairs, "CartesianProduct")


def test_kmeans_empty_input_returns_empty_model(spark, embeddings):
    """Zero rows is a pipeline state, not a caller error: a pruned or
    filtered-to-zero read returns the EMPTY model and the empty
    assignment relation with the contract schema (tools/empty_probe.py
    found the old ValueError crashing six driver queries)."""
    none = embeddings.filter(F.lit(False))
    assign, cents = kmeans_fit(none, k=8, n_iter=3)
    assert cents == []
    assert assign.columns == ["vec_id", "cluster_id"]
    assert assign.count() == 0
    # the empty model flows through assignment and SemDeDup too
    assert kmeans_assign(embeddings, cents).count() == 0
    assert semantic_dedup_pairs(embeddings, cents, threshold=0.9).count() == 0


def test_kmeans_excludes_null_and_ragged_vectors(spark, embeddings):
    """NULL vectors and vectors not of the model dimension have no
    distance to a d-dim centroid: they are excluded from the fit and the
    assignments instead of crashing the element_at component sums
    (tools/null_probe.py finding); the model itself must equal the fit
    on the clean rows alone."""
    emb = embeddings.filter(F.col("vec_id") < 40).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    bad = spark.createDataFrame(
        [(100001, None), (100002, []), (100003, [1.0, 2.0])],
        "vec_id bigint, embedding array<double>")
    assign, cents = kmeans_fit(emb.unionByName(bad), k=4, n_iter=2)
    clean_assign, clean_cents = kmeans_fit(emb, k=4, n_iter=2)
    assert cents == clean_cents
    got = {r.vec_id: r.cluster_id for r in assign.collect()}
    assert got == {r.vec_id: r.cluster_id for r in clean_assign.collect()}
    assert not {100001, 100002, 100003} & set(got)
    # same exclusion contract on the standalone assignment pass
    assigned = kmeans_assign(emb.unionByName(bad), cents)
    assert not {100001, 100002, 100003} & {
        r.vec_id for r in assigned.collect()}


def test_argmin_cell_ties_and_malformed_rows(spark):
    """The assignment argmin on adversarial fixtures through
    kmeans_assign: exact-tie rows (equidistant -> smallest cluster id), a
    vector ON a centroid, and a NULL-element vector (all distances
    poisoned -> cell 0); NULL and wrong-dim vectors are excluded. The
    plan stays Python-free."""
    cents = [[0.0, 0.0], [4.0, 0.0], [2.0, 0.0]]
    rows = [(1, [2.0, 0.0]),      # d(c0)=4, d(c1)=4, d(c2)=0 -> cell 2
            (2, [1.0, 0.0]),      # tie c0 vs c2 (1 vs 1) -> smaller id 0
            (3, [4.0, 0.0]),      # exactly on c1
            (4, [3.0, 0.0]),      # tie c1 vs c2 -> smaller id 1
            (5, [None, 1.0]),     # NULL element -> cell 0
            (6, None),            # NULL vector -> excluded
            (7, [1.0, 2.0, 3.0])]  # wrong dim -> excluded
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_assign(df, cents, vec_col="embedding", scale=1)
    assert_not_in_plan(out, "EvalPython")
    got = sorted((r.vec_id, r.cluster_id) for r in out.collect())
    assert got == [(1, 2), (2, 0), (3, 1), (4, 1), (5, 0)]
