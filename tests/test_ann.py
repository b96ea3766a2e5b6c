"""ANN operators: IVF recall vs brute force, cell assignment, sign-LSH."""

import pytest
from pyspark.sql import functions as F

from go_simple_embedding_database_spark.operators import ann
from go_simple_embedding_database_spark.operators.topk import topk_by_similarity


@pytest.fixture(scope="module")
def centroids(spark, embeddings):
    return ann.deterministic_centroids(embeddings, 8)


def test_assign_cells_covers_all(spark, embeddings, centroids):
    cells = ann.assign_cells(embeddings, centroids)
    assert cells.count() == embeddings.count()          # exactly one cell per row
    assert cells.select("cell").distinct().count() <= 8
    # a centroid's own vector must land in its own cell (self-cosine = 1)
    own = cells.filter(F.col("vec_id") < 8).select("vec_id", "cell").collect()
    assert all(r.cell == r.vec_id for r in own)


def _argmax_reference_cells(frame, centroids, key):
    """(key, cell) of every row by the HOF pair kernel over a broadcast
    cross join and an argmax window over ``key`` — an independent
    reference for ``assign_cells`` on frames whose ``key`` is unique."""
    from pyspark.sql import Window

    from go_simple_embedding_database_spark.functions.kernels import (
        cosine_pairs_kernel)

    w = Window.partitionBy(key).orderBy(F.desc("_csim"),
                                        F.asc("centroid_id"))
    ref = (frame.crossJoin(F.broadcast(centroids))
           .withColumn("_csim", cosine_pairs_kernel(F.col("embedding"),
                                                    F.col("centroid")))
           .withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") == 1))
    return sorted((r[key], r.centroid_id) for r in ref.collect())


def test_assign_cells_matches_id_argmax_on_unique_ids(spark, embeddings,
                                                      centroids):
    """On a unique-id corpus the per-batch centroid ranking picks the
    same cell as an argmax window over the id itself."""
    got = sorted((r.vec_id, r.cell)
                 for r in ann.assign_cells(embeddings, centroids).collect())
    assert got == _argmax_reference_cells(embeddings, centroids, "vec_id")


def _poisoned_frame(spark, embeddings, centroids):
    """40 well-formed rows plus one row per malformed-vector class, a
    duplicate id with a different vector, a NULL id and a negated
    centroid; ``tag`` is the unique key (vec_id is not)."""
    good = [(f"ok{r.vec_id}", r.vec_id, [float(v) for v in r.embedding])
            for r in embeddings.filter(F.col("vec_id") < 40).collect()]
    v = good[10][2]
    c0 = centroids.orderBy("centroid_id").first().centroid
    inf = float("inf")
    bad = [("null_vec", 1001, None),
           ("null_elem", 1002, [None] + v[1:]),
           ("all_nan", 1003, [float("nan")] * len(v)),
           ("zero", 1004, [0.0] * len(v)),
           ("wrong_dim", 1005, v[:10]),
           ("pos_inf", 1006, [inf] + v[1:]),
           ("neg_inf", 1007, [-inf] + v[1:]),
           ("dup_id", 3, list(reversed(v))),
           ("null_id", None, v[::-1][:32] + v[:32]),
           ("neg_centroid", 1008, [-x for x in c0])]
    return spark.createDataFrame(
        good + bad, "tag string, vec_id bigint, embedding array<double>")


def _tied_centroids(spark, centroids):
    """8 centroids holding only 4 distinct vectors, listed in reverse id
    order: every tie must go to the lowest centroid_id."""
    vecs = [r.centroid for r in centroids.orderBy("centroid_id").collect()]
    return spark.createDataFrame(
        [(i, vecs[i % 4]) for i in reversed(range(8))],
        "centroid_id bigint, centroid array<double>")


@pytest.mark.parametrize("frame,cents", [
    ("poisoned", "first8"), ("unique", "tied"), ("poisoned", "tied"),
    ("unique", "empty"), ("poisoned", "empty")])
def test_assign_cells_matches_argmax_reference_on_degenerate_inputs(
        spark, embeddings, centroids, frame, cents):
    """Malformed vectors, duplicate and NULL ids, tied centroids and an
    empty centroid table: every row still gets the reference's cell
    (and no row at all without centroids)."""
    df = (_poisoned_frame(spark, embeddings, centroids) if frame == "poisoned"
          else embeddings.withColumn("tag", F.col("vec_id").cast("string")))
    c = {"first8": centroids,
         "tied": _tied_centroids(spark, centroids),
         "empty": centroids.filter(F.lit(False))}[cents]
    got = sorted((r.tag, r.cell) for r in ann.assign_cells(df, c).collect())
    want = _argmax_reference_cells(df, c, "tag")
    assert got == want
    assert len(got) == (0 if cents == "empty" else df.count())


def test_ivf_index_keeps_duplicate_and_null_id_rows(spark, embeddings,
                                                    centroids, tmp_path):
    """Rows that share an id, or have a NULL id, each keep their own row
    in the written index, in the cell of their own vector."""
    base = embeddings.filter(F.col("vec_id") < 40)
    dups = (embeddings.filter(F.col("vec_id").between(40, 44))
            .withColumn("vec_id", F.col("vec_id") - 40))
    nulls = (embeddings.filter(F.col("vec_id").between(45, 47))
             .withColumn("vec_id", F.lit(None).cast("long")))
    path = str(tmp_path / "ivf")
    ann.ivf_write_index(base.unionByName(dups).unionByName(nulls),
                        centroids, path)
    got = sorted((tuple(r.embedding), r.cell) for r in
                 spark.read.parquet(f"{path}/cells").collect())
    unique = embeddings.filter(F.col("vec_id") < 48)
    want = sorted((tuple(r.embedding), r.cell) for r in
                  ann.assign_cells(unique, centroids).collect())
    assert len(got) == 48
    assert got == want


def test_ivf_topk_recall(spark, embeddings, centroids):
    """IVF with nprobe=4 of 8 cells must recover most of the exact top-10
    (random 64-dim data is a worst case for IVF; >=50% recall at half the
    cells probed is the sanity bar, exactness comes from brute force)."""
    q = [float(v) for v in embeddings.filter(F.col("vec_id") == 7).collect()[0].embedding]
    exact = {r.vec_id for r in topk_by_similarity(
        embeddings, q, 10, score_col="s", tie_break=["vec_id"]).collect()}
    approx = {r.vec_id for r in ann.ivf_topk(
        embeddings, centroids, q, 10, nprobe=4).collect()}
    assert len(approx) == 10
    assert len(exact & approx) >= 5
    # the query vector itself must always be found (it defines its cell)
    assert 7 in approx


def test_ivf_topk_nprobe_all_equals_exact(spark, embeddings, centroids):
    """Probing ALL cells makes IVF exact — the correctness envelope."""
    q = [float(v) for v in embeddings.filter(F.col("vec_id") == 3).collect()[0].embedding]
    exact = {r.vec_id for r in topk_by_similarity(
        embeddings, q, 10, score_col="s", tie_break=["vec_id"]).collect()}
    approx = {r.vec_id for r in ann.ivf_topk(
        embeddings, centroids, q, 10, nprobe=8).collect()}
    assert approx == exact


def test_ivf_index_roundtrip_and_pruning(spark, embeddings, centroids, tmp_path):
    """Materialized IVF index: query result equals the on-the-fly ivf_topk,
    and the physical plan shows PartitionFilters on cell (partition
    pruning, not a full scan + filter)."""
    from go_simple_embedding_database_spark.plans.explain_utils import formatted_plan

    path = str(tmp_path / "ivf")
    ann.ivf_write_index(embeddings, centroids, path)
    q = [float(v) for v in embeddings.filter(F.col("vec_id") == 7).collect()[0].embedding]
    idx = ann.ivf_query_index(spark, path, q, 10, nprobe=4)
    fly = ann.ivf_topk(embeddings, centroids, q, 10, nprobe=4)
    assert {r.vec_id for r in idx.collect()} == {r.vec_id for r in fly.collect()}

    plan = formatted_plan(idx)
    assert "PartitionFilters" in plan
    frag = plan.split("PartitionFilters")[1][:200]
    assert "cell" in frag


def test_quantized_index_matches_on_the_fly(spark, embeddings, tmp_path, sf_dir):
    """The materialized-int8 path must return the exact rows of the
    on-the-fly quantized_topk (tinyint storage is lossless for |q|<=127),
    and its stage-1 scan must read ONLY (vec_id, embedding_q)."""
    from go_simple_embedding_database_spark.plans.explain_utils import formatted_plan

    path = str(tmp_path / "qidx")
    ann.ensure_quantized_copy(spark, f"{sf_dir}/embeddings.parquet", path)
    q = [float(v) for v in embeddings.filter(F.col("vec_id") == 7).collect()[0].embedding]
    fly = ann.quantized_topk(embeddings, q, 10, rescore_factor=4)
    idx = ann.quantized_topk_indexed(spark, path, embeddings, q, 10, rescore_factor=4)
    assert [(r.vec_id, round(r.score, 9)) for r in idx.collect()] == \
           [(r.vec_id, round(r.score, 9)) for r in fly.collect()]

    stage1 = formatted_plan(ann.quantized_candidates(spark, path, q, 40))
    read_schema = stage1.split("ReadSchema")[1][:300]
    assert "embedding_q" in read_schema and "embedding:" not in read_schema


def test_quantized_index_fingerprint_guard(spark, tmp_path, sf_dir):
    """Same fingerprint → no rebuild (marker survives); changed fingerprint
    → rebuild."""
    import os
    path = str(tmp_path / "qidx2")
    src = f"{sf_dir}/embeddings.parquet"
    ann.ensure_quantized_copy(spark, src, path, fingerprint="fp1")
    t0 = os.path.getmtime(os.path.join(path, "_source_fingerprint"))
    ann.ensure_quantized_copy(spark, src, path, fingerprint="fp1")
    assert os.path.getmtime(os.path.join(path, "_source_fingerprint")) == t0
    ann.ensure_quantized_copy(spark, src, path, fingerprint="fp2")
    with open(os.path.join(path, "_source_fingerprint")) as fh:
        assert fh.read() == "fp2"


def test_kmeans_centroids_shape(spark, embeddings):
    c = ann.kmeans_centroids(embeddings.limit(200), k=4)
    rows = c.collect()
    assert len(rows) == 4
    assert all(len(r.centroid) == 64 for r in rows)


def test_signlsh_buckets_similar_vectors_collide(spark, embeddings):
    planes = ann.hyperplanes_from_seed(8, 64)
    b = ann.signlsh_buckets(embeddings, planes)
    # scaled copy of a vector gets the identical bucket (sign-invariant)
    one = embeddings.filter(F.col("vec_id") == 0).select(
        F.lit(-1).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"), lambda x: x * 3.0).alias("embedding"),
        "label")
    b2 = ann.signlsh_buckets(one, planes)
    bucket0 = b.filter(F.col("vec_id") == 0).collect()[0].bucket
    assert b2.collect()[0].bucket == bucket0
    # buckets spread (not all rows in one bucket)
    assert b.select("bucket").distinct().count() > 10


def test_mean_vector_components_matches_numpy(spark, embeddings):
    import numpy as np
    sample = embeddings.filter(F.col("label") == 3)
    rows = ann.mean_vector_components(sample, "label").collect()
    got = np.zeros(64)
    for r in rows:
        assert r.label == 3
        got[r.pos] = r.mean_v
    arrs = np.array([r.embedding for r in sample.collect()], dtype=np.float64)
    assert np.allclose(got, arrs.mean(axis=0))
    assert all(r.n == len(arrs) for r in rows)


def test_scalar_quantize_scale_invariant_and_zero(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [5.0, -10.0, 2.5]), (3, [0.0, 0.0, 0.0])],
        "vec_id int, embedding array<double>")
    rows = {r.vec_id: r.q for r in df.select(
        "vec_id", ann.scalar_quantize(F.col("embedding")).alias("q")).collect()}
    # per-vector scaling makes scaled copies quantize identically
    assert rows[1] == rows[2] == [64.0, -127.0, 32.0]
    assert rows[3] == [0.0, 0.0, 0.0]


def test_quantize_vector_py_matches_column(spark, embeddings):
    sample = embeddings.limit(20)
    got = sample.select("vec_id", ann.scalar_quantize(F.col("embedding")).alias("q")).collect()
    for r in sample.collect():
        py = ann.quantize_vector_py([float(v) for v in r.embedding])
        spark_q = next(x.q for x in got if x.vec_id == r.vec_id)
        assert py == spark_q, f"vec {r.vec_id}"


def test_quantized_topk_recall_vs_exact(spark, embeddings):
    from go_simple_embedding_database_spark.operators.topk import topk_by_similarity
    qvec = [float(v) for v in embeddings.filter(F.col("vec_id") == 7).collect()[0].embedding]
    exact = {r.vec_id for r in topk_by_similarity(
        embeddings, qvec, 10, score_col="s", tie_break=["vec_id"]).collect()}
    quant = {r.vec_id for r in ann.quantized_topk(embeddings, qvec, 10).collect()}
    # int8 quantization at 64 dims: near-perfect recall expected
    assert len(exact & quant) >= 9


def test_topk_recall_ivf_vs_exact(spark, embeddings):
    """Recall harness: IVF with all cells probed is exhaustive (recall 1
    for every query); fewer probes can only lose candidates, never gain."""
    from pyspark.sql import functions as F

    from go_simple_embedding_database_spark.operators import ann
    from go_simple_embedding_database_spark.operators.topk import topk_by_similarity

    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    cents = ann.kmeans_centroids(emb, k=4, max_iter=2)
    qvecs = {r.vec_id: list(r.embedding)
             for r in emb.filter(F.col("vec_id") < 3).collect()}

    def run(fn):
        parts = []
        for qid, qv in qvecs.items():
            parts.append(fn(qv).withColumn("query_id", F.lit(qid))
                         .select("query_id", "vec_id"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    exact = run(lambda qv: topk_by_similarity(
        emb, qv, 5, tie_break=["vec_id"]))
    full = run(lambda qv: ann.ivf_topk(emb, cents, qv, 5, nprobe=4,
                                       id_col="vec_id"))
    rec_full = {r.query_id: r.recall
                for r in ann.topk_recall(exact, full).collect()}
    assert rec_full == {qid: 1.0 for qid in qvecs}

    narrow = run(lambda qv: ann.ivf_topk(emb, cents, qv, 5, nprobe=1,
                                         id_col="vec_id"))
    rec_narrow = ann.topk_recall(exact, narrow).collect()
    assert all(0.0 <= r.recall <= 1.0 and r.n_ref == 5 for r in rec_narrow)


def test_topk_recall_missing_query_scores_zero(spark):
    from go_simple_embedding_database_spark.operators.ann import topk_recall
    ref = spark.createDataFrame([(1, 10), (1, 11), (2, 10)],
                                "query_id long, vec_id long")
    cand = spark.createDataFrame([(1, 10), (1, 99)],
                                 "query_id long, vec_id long")
    got = {r.query_id: (r.n_hit, r.n_ref, r.recall)
           for r in topk_recall(ref, cand).collect()}
    assert got == {1: (1, 2, 0.5), 2: (0, 1, 0.0)}


def test_topk_recall_ignores_duplicate_candidates(spark):
    """Multi-source candidate unions can emit an id twice per query —
    hits must not double-count into recall > 1."""
    from go_simple_embedding_database_spark.operators.ann import topk_recall
    ref = spark.createDataFrame([(1, 10), (1, 11)], "query_id long, vec_id long")
    cand = spark.createDataFrame([(1, 10), (1, 10), (1, 10)],
                                 "query_id long, vec_id long")
    got = topk_recall(ref, cand).collect()[0]
    assert (got.n_hit, got.n_ref, got.recall) == (1, 2, 0.5)


def test_ivf_query_index_batch_equals_per_query(spark, embeddings,
                                                centroids, tmp_path):
    """The batched IVF probe must return EXACTLY the per-query path's
    rows for every query in the batch (same probe cells, same top-k,
    same tie order) while reading the cells table once; its plan still
    partition-prunes on the probed-cell union."""
    from go_simple_embedding_database_spark.plans.explain_utils import (
        formatted_plan)

    path = str(tmp_path / "ivfb")
    ann.ivf_write_index(embeddings, centroids, path)
    qids = [3, 7, 11, 19]
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    qset = (emb.filter(F.col("vec_id").isin(qids))
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_embedding"),
                    F.concat(F.lit("q"), F.col("vec_id").cast("string"))
                    .alias("tag")))
    batched = ann.ivf_query_index_batch(spark, path, qset, 10, nprobe=2)
    rows = batched.collect()
    # extra query columns ride along onto every answer row
    assert all(r.tag == f"q{r.query_id}" for r in rows)
    got = {(r.query_id, r.vec_id) for r in rows}
    want = set()
    for qid in qids:
        qv = [float(v) for v in
              emb.filter(F.col("vec_id") == qid).collect()[0].embedding]
        for r in ann.ivf_query_index(spark, path, qv, 10, nprobe=2).collect():
            want.add((qid, r.vec_id))
    assert got == want

    plan = formatted_plan(batched)
    assert "PartitionFilters" in plan
    assert plan.count("cells") >= 1
    # one cells read for the whole batch, not one per query: a single
    # scan node mentions its path at most twice in formatted output
    # (tree line + detail Location); the 4-query per-query shape would
    # mention it 8 times
    assert plan.count("ivfb/cells") <= 2


def test_ivf_query_index_batch_empty_queries(spark, embeddings, centroids,
                                             tmp_path):
    """An empty query batch returns an empty result with the output
    schema — not a schema-inference crash (review finding: inference
    raises CANNOT_INFER_EMPTY_SCHEMA on an empty pair list)."""
    path = str(tmp_path / "ivfe")
    ann.ivf_write_index(embeddings, centroids, path)
    qset = (embeddings.filter(F.col("vec_id") < 0)  # matches nothing
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").cast("array<double>")
                    .alias("query_embedding")))
    out = ann.ivf_query_index_batch(spark, path, qset, 10, nprobe=2)
    assert out.count() == 0
    assert "query_id" in out.columns and "vec_id" in out.columns


def test_ivf_index_empty_source_queries_empty(spark, embeddings, tmp_path):
    """An IVF index built over ZERO rows (pruned/filtered corpus) must
    stay queryable: partitionBy writes no data files, so the reader
    needs the _cells_schema.json sidecar instead of schema inference
    (tools/empty_probe.py found the AnalysisException). Both the
    per-query and the batch path must return the empty relation."""
    none = embeddings.filter(F.lit(False))
    cents = ann.deterministic_centroids(none, 8)
    path = str(tmp_path / "ivf_empty")
    ann.ivf_write_index(none, cents, path)
    out = ann.ivf_query_index(spark, path, [0.0] * 64, 5, nprobe=2)
    assert out.count() == 0
    qset = none.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").cast("array<double>")
                       .alias("query_embedding"))
    assert ann.ivf_query_index_batch(spark, path, qset, 5).count() == 0
    # NON-empty batch against the empty index: the short-circuit decides
    # "nothing probeable" from |C| = 0 alone — before the query collect,
    # which would pull the whole batch just to return nothing
    # (ADVICE r05)
    live = embeddings.select(F.col("vec_id").alias("query_id"),
                             F.col("embedding").cast("array<double>")
                             .alias("query_embedding")).limit(7)
    assert ann.ivf_query_index_batch(spark, path, live, 5).count() == 0


def test_quantized_index_empty_source_queries_empty(spark, embeddings,
                                                    tmp_path):
    """Quantized copy of an empty source: stage-1 candidates are empty,
    and stage 2 must not build isin([]) — empty result, normal schema."""
    src = str(tmp_path / "src.parquet")
    embeddings.filter(F.lit(False)).write.parquet(src)
    idx = str(tmp_path / "q_idx")
    ann.ensure_quantized_copy(spark, src, idx)
    out = ann.quantized_topk_indexed(
        spark, idx, spark.read.parquet(src), [0.0] * 64, 5)
    assert out.count() == 0


def test_ivf_batch_1k_centroids_equals_per_query(spark, tmp_path):
    """A 1,000-centroid index (a real IVF's size, far more centroids
    than the benchmark's 32) ranked on the driver by the scorer's
    per-batch function: every query's rows must equal the per-query
    path's, which ranks the centroids with Spark's
    ``orderBy(desc, centroid_id)`` — same fold, same tie order, same
    probe cells, bitwise-equal scores."""
    import numpy as np

    rng = np.random.default_rng(23)
    dim = 8
    cents = [(int(i), [float(v) for v in rng.standard_normal(dim)])
             for i in range(1000)]
    vecs = [(int(i), [float(v) for v in rng.standard_normal(dim)])
            for i in range(60)]
    cent_df = spark.createDataFrame(
        cents, "centroid_id int, centroid array<double>")
    emb = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    path = str(tmp_path / "ivf1k")
    ann.ivf_write_index(emb, cent_df, path)
    qset = (emb.filter(F.col("vec_id") < 6)
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_embedding")))
    got = sorted((r.query_id, r.vec_id, r.score) for r in
                 ann.ivf_query_index_batch(spark, path, qset, 5,
                                           nprobe=3).collect())
    want = []
    by_id = dict(vecs)
    for qid in range(6):
        for r in ann.ivf_query_index(spark, path, by_id[qid], 5,
                                     nprobe=3).collect():
            want.append((qid, r.vec_id, r.score))
    assert got == sorted(want) and len(got) > 0


def test_ivf_batch_malformed_queries_do_not_raise(spark, embeddings,
                                                  centroids, tmp_path):
    """A NULL query vector, a NULL element and a wrong-dim query in one
    batch beside well-formed queries: the batch probe must not raise
    (they score NULL/NaN against the centroids, as batch_topk scores
    them), and the well-formed queries' rows must equal their rows
    from an all-well-formed batch."""
    path = str(tmp_path / "ivfbad")
    ann.ivf_write_index(embeddings, centroids, path)
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    good = (emb.filter(F.col("vec_id").isin([3, 7, 11]))
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_embedding")))
    holed = [float(v) for v in
             emb.filter(F.col("vec_id") == 19).first().embedding]
    holed[5] = None
    bad = spark.createDataFrame(
        [(90001, None), (90002, holed), (90003, [1.0, 0.5, -2.0])],
        "query_id long, query_embedding array<double>")
    clean = ann.ivf_query_index_batch(spark, path, good, 10, nprobe=2)
    mixed = ann.ivf_query_index_batch(spark, path, good.unionByName(bad),
                                      10, nprobe=2)

    def rows(df, qids):
        return sorted(tuple(r) for r in df.collect() if r.query_id in qids)

    want = rows(clean, {3, 7, 11})
    assert rows(mixed, {3, 7, 11}) == want and len(want) == 30
