"""Top-k operator semantics + physical-plan contract (SURVEY §2.3)."""

import pytest
from pyspark.sql import functions as F

from go_simple_embedding_database_spark.operators.topk import (
    batch_topk,
    similarity_join,
    topk_by_similarity,
)
from go_simple_embedding_database_spark.plans.explain_utils import formatted_plan


def test_topk_self_match_first(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") == 0).collect()[0].embedding
    out = topk_by_similarity(embeddings, list(q), 5, score_col="sim",
                             tie_break=["vec_id"]).collect()
    assert out[0].vec_id == 0
    assert out[0].sim == pytest.approx(1.0)
    sims = [r.sim for r in out]
    assert sims == sorted(sims, reverse=True)


def test_topk_small_input_returns_all(spark, embeddings):
    small = embeddings.filter(F.col("vec_id") < 3)
    q = embeddings.filter(F.col("vec_id") == 0).collect()[0].embedding
    assert topk_by_similarity(small, list(q), 10).count() == 3


def test_topk_plans_take_ordered(spark, embeddings):
    """The 100 TB contract: top-k must compile to TakeOrderedAndProject
    (per-partition heaps), NOT a global Sort."""
    q = embeddings.limit(1).collect()[0].embedding
    df = topk_by_similarity(embeddings, list(q), 5)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_batch_topk_exact_k_per_query(spark, embeddings):
    queries = (embeddings.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_embedding")))
    out = batch_topk(embeddings, queries, 4, tie_break=["vec_id"])
    counts = {r.query_id: r.n for r in
              out.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 4, 1: 4, 2: 4}
    # self-match ranks first for each query
    firsts = out.filter(F.col("vec_id") == F.col("query_id"))
    assert firsts.count() == 3


def test_batch_topk_broadcasts_queries(spark, embeddings):
    """The query batch rides the scorer's closure: the records are
    scored in MapInArrow, never crossed with the queries."""
    queries = (embeddings.limit(3)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_embedding")))
    plan = formatted_plan(batch_topk(embeddings, queries, 2))
    assert "MapInArrow" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_batch_topk_rejects_query_side_tie_break(spark, embeddings):
    """A query column is constant within a query, so it can never break
    a tie: naming one is a caller error, not a silent no-op."""
    queries = (embeddings.limit(2)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_embedding"),
                       F.lit("t").alias("tag")))
    with pytest.raises(ValueError, match="tag"):
        batch_topk(embeddings, queries, 2, tie_break=["vec_id", "tag"])


def test_similarity_join_threshold_and_k(spark, embeddings):
    """The k-NN join (a ``batch_topk`` adapter, threshold applied after
    the top-k) returns exactly the rows of a single ``row_number``
    window over an inline cross join scored by the pair kernel, with the
    threshold applied BEFORE the window — a threshold keeps a prefix of
    each left row's order. Over a k × threshold grid, with NULL,
    NULL-element, all-NaN, wrong-dim, zero and +Inf vectors on both
    sides and duplicate left ids (same and different vectors); compared
    by ``repr`` so NaN, -0.0 and NULL scores count."""
    from pyspark.sql import Window

    from go_simple_embedding_database_spark.functions.kernels import (
        cosine_pairs_kernel)

    vtype = embeddings.schema["embedding"].dataType
    base = embeddings.select("vec_id", "embedding")
    dim = len(base.first().embedding)
    nan, inf = float("nan"), float("inf")
    poison = [None, [1.0, None] + [2.0] * (dim - 2), [nan] * dim,
              [1.0, 2.0], [0.0] * dim, [inf] + [1.0] * (dim - 1)]

    def rows(ids, vecs):
        return spark.createDataFrame(
            list(zip(ids, vecs)),
            "vec_id long, embedding array<double>").select(
                "vec_id", F.col("embedding").cast(vtype))

    v0, v7 = (base.filter(F.col("vec_id") == i).first().embedding
              for i in (0, 7))
    # left ids 0 and 1 repeat: 0 with its own vector, 1 with another's
    left = (base.filter(F.col("vec_id") < 5)
            .unionByName(rows([0, 1], [v0, v7]))
            .unionByName(rows(range(90001, 90007), poison)).localCheckpoint())
    # ids descend in row order, so only the right_id tie-break orders
    # the tied (NULL, NaN, duplicate-vector) scores
    right = (rows(range(80006, 80000, -1), poison)
             .unionByName(rows([70002, 70001], [v0, v0]))
             .unionByName(base).localCheckpoint())

    pairs = right.alias("r").crossJoin(left.alias("l")).select(
        F.col("l.vec_id").alias("left_id"),
        F.col("r.vec_id").alias("right_id"),
        cosine_pairs_kernel(F.col("l.embedding"),
                            F.col("r.embedding")).alias("score")
    ).localCheckpoint()
    w = Window.partitionBy("left_id").orderBy(F.desc("score"),
                                              F.asc("right_id"))
    for k in (1, 3, 5, 10):
        for t in (None, -1.0, 0.0, 0.3, 0.5, 0.9, 0.999999, 1.0):
            ref = pairs if t is None else pairs.filter(F.col("score") >= t)
            want = sorted(map(repr, ref.withColumn(
                "_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
                .drop("_rn").collect()))
            out = similarity_join(left, right, k=k, threshold=t,
                                  left_id="vec_id", right_id="vec_id")
            assert out.columns == ["left_id", "right_id", "score"]
            assert sorted(map(repr, out.collect())) == want, (k, t)


def test_batch_topk_record_scorer_bitwise_parity(spark, embeddings):
    """The record-form scorer (``record_topk``) is bit-identical to the
    pair kernel over EVERY (record, query) pair — with k at least the
    record count nothing is truncated — including NULL vectors, NULL
    elements on either side (NaN per the kernel contract), length
    mismatches and zero norms; and batch_topk's winners match a single
    ``row_number`` window over the pair-kernel scores. batch_topk plans
    MapInArrow."""
    import struct

    from pyspark.sql import Window

    from go_simple_embedding_database_spark.functions.kernels import (
        cosine_pairs_kernel)
    from go_simple_embedding_database_spark.operators.topk import (
        record_topk)

    base = embeddings.select("vec_id", F.col("embedding")
                             .cast("array<double>").alias("embedding"))
    weird = spark.createDataFrame(
        [(90001, None), (90002, [1.0, None, 2.0]),
         (90003, [0.0, 0.0, 0.0]), (90004, [1.0, 2.0])],
        "vec_id long, embedding array<double>")
    records = base.unionByName(weird)
    holed = [float(v) for v in
             base.filter(F.col("vec_id") == 2).first().embedding]
    holed[1] = None
    queries = (base.filter(F.col("vec_id") < 2)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_embedding"))
               .unionByName(spark.createDataFrame(
                   [(80001, None), (80002, [1.0, 0.0]), (80003, holed)],
                   "query_id long, query_embedding array<double>")))

    def b(x):
        return None if x is None else struct.pack("<d", x)

    pairs = records.crossJoin(F.broadcast(queries)).select(
        "query_id", "vec_id",
        cosine_pairs_kernel(F.col("embedding"),
                            F.col("query_embedding")).alias("sim"))
    pair = {(r.query_id, r.vec_id): b(r.sim) for r in pairs.collect()}
    n_rec = records.count()
    every = record_topk(
        records, queries.collect(), queries.schema["query_id"], n_rec,
        "embedding", "s", ["vec_id"], [])
    rec = {(r.query_id, r.vec_id): b(r.s) for r in every.collect()}
    assert rec == pair and len(rec) == n_rec * queries.count()
    assert all(rec[(80003, v)] == b(float("nan")) for v in (0, 1, 2))

    # end-to-end winners against a single window over the pair scores,
    # and the plan shape
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                               F.asc("vec_id"))
    want = sorted(map(tuple, pairs.withColumn("_rn", F.row_number().over(w))
                      .filter(F.col("_rn") <= 3)
                      .select("query_id", "vec_id", "sim").collect()))
    rdf = batch_topk(records, queries, 3, score_col="sim",
                     tie_break=["vec_id"], records_id="vec_id")
    rw = sorted(map(tuple, rdf.select("query_id", "vec_id", "sim")
                    .collect()))
    plan = formatted_plan(rdf)
    assert "MapInArrow" in plan and "CartesianProduct" not in plan
    assert [(a, c, b(s)) for a, c, s in want] == \
           [(a, c, b(s)) for a, c, s in rw]


def test_record_topk_truncation_parity(spark):
    """Per-batch truncation inside the record scorer keeps exactly the
    rows a single ``row_number`` window over the pair-form scores ranks
    first — unrouted (through batch_topk, with and without records_id)
    and routed (the IVF shape) —
    with bitwise-equal scores. Several tiny Arrow batches per partition
    and k above a batch's row count and above the partial-limit
    threshold; NaN scores (record-side NULL
    element) rank first, NULL scores (NULL vector, dim mismatch, NULL
    query vector) last; zero norms score 0.0; heavy ties at the k-th
    score, broken by float (NaN/NULL/-0.0), string (NULL) and id
    columns or left arbitrary; a string query_id."""
    import struct

    from pyspark.sql import Window

    from go_simple_embedding_database_spark.functions.kernels import (
        cosine_pairs_kernel)
    from go_simple_embedding_database_spark.operators.topk import (
        batch_topk, group_topk, record_topk)

    nan = float("nan")
    vals = [-1.0, 0.0, 1.0, 2.0]
    rows = []
    for i in range(60):
        vec = [vals[(i * 7 + d * (i % 5 + 1)) % 4] for d in range(4)]
        # few distinct w, so score ties fall through to w, then grp
        w = [None, -0.0, nan, 0.0][i % 4]
        grp = [None, "a", "b", "é"][(i // 4) % 4]
        rows.append((i, vec, w, grp))
    rows += [(100, [1.0, None, 0.5, 0.0], 0.0, "a"),   # NULL element
             (101, None, 0.0, "a"),                    # NULL vector
             (102, [1.0, 2.0], 0.0, "a"),              # dim mismatch
             (103, [0.0, 0.0, 0.0, 0.0], 0.0, "a"),    # zero norm
             (104, [0.0, 0.0], 0.0, "a")]              # zero, mismatch
    records = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, w double, grp string"
    ).repartition(2).withColumn("cell", F.col("vec_id") % 3)
    queries = spark.createDataFrame(
        [("q0", [1.0, 0.0, 1.0, -1.0]), ("q1", [2.0, 1.0, 0.0, 1.0]),
         ("q2", [0.0, 0.0, 0.0, 0.0]), ("q3", [1.0, None, 1.0, 1.0]),
         ("q4", None), ("q5", [1.0, 1.0, 1.0])],
        "query_id string, query_embedding array<double>")
    q_rows = queries.collect()
    routes = {0: [0, 1, 4], 1: [1, 2, 3], 2: [0, 5]}
    route_pairs = spark.createDataFrame(
        [(q_rows[j].query_id, c) for c, js in routes.items() for j in js],
        "query_id string, cell long")
    pairs = records.crossJoin(queries).withColumn(
        "s", cosine_pairs_kernel(F.col("embedding"),
                                 F.col("query_embedding")))

    def b(x):
        return b"NULL" if x is None else struct.pack("<d", x)

    def reference(scored, k, ties):
        order = [F.desc("s")] + [F.asc(c) for c in ties]
        w = Window.partitionBy("query_id").orderBy(*order)
        return (scored.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= k)
                .select("query_id", "vec_id", "s").collect())

    exact = {(r.query_id, r.vec_id): b(r.s) for r in pairs.collect()}
    by_id = {r.vec_id: repr(tuple(r)) for r in records.collect()}

    def check(got, want, total):
        if total:
            assert sorted((q, v, b(s)) for q, v, s in got) == \
                   sorted((q, v, b(s)) for q, v, s in want)
            return
        # arbitrary tie fill: the same kept scores per query, bitwise,
        # and every winner carries its own exact pair score
        assert sorted((q, b(s)) for q, _, s in got) == \
               sorted((q, b(s)) for q, _, s in want)
        assert all(exact[(q, v)] == b(s) for q, v, s in got)

    saved = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        # k = 1001 is above windowGroupLimitThreshold (1000): no partial
        # WindowGroupLimit, the window alone selects
        for k in (3, 10, 1001):
            for ties in (["w", "grp", "vec_id"], ["grp", "w", "vec_id"],
                         []):
                got = batch_topk(
                    records, queries, k, score_col="s",
                    tie_break=ties or None, records_id="vec_id",
                    attach_payload=False).select("query_id", "vec_id", "s")
                check(got.collect(), reference(pairs, k, ties), bool(ties))
                # no records_id: every record column comes back, intact
                whole = batch_topk(records, queries, k, score_col="s",
                                   tie_break=ties or None)
                assert whole.columns == [*records.columns, "query_id", "s"]
                rows = whole.collect()
                check([(r.query_id, r.vec_id, r.s) for r in rows],
                      reference(pairs, k, ties), bool(ties))
                assert all(repr(tuple(r[c] for c in records.columns))
                           == by_id[r.vec_id] for r in rows)
                order = [F.desc("s")] + [F.asc(c) for c in ties]
                routed = group_topk(
                    record_topk(records, q_rows, queries.schema["query_id"],
                                k, "embedding", "s",
                                ["vec_id", "cell", *ties], ties,
                                routes=routes, route_col="cell"),
                    ["query_id"], order, k)
                assert ("WindowGroupLimit" in formatted_plan(routed)) == \
                    (k <= 1000)
                check(routed.select("query_id", "vec_id", "s").collect(),
                      reference(pairs.join(route_pairs,
                                           ["query_id", "cell"]), k, ties),
                      bool(ties))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", saved)


def test_record_scorer_query_chunks_keep_rows_and_order(spark, embeddings,
                                                        monkeypatch):
    """With ``_SCORE_BLOCK_CELLS`` patched small, every score block meets
    its queries in several chunks (one query per chunk for a full block,
    several for a block of a few rows); the scorer's output batches hold
    the same rows, bitwise, in the same order as unchunked, routed and
    unrouted, with NULL, NULL-element and wrong-dim vectors on both
    sides. batch_topk through the chunked scorer matches
    ``topk_by_similarity`` per query. The default cap keeps a full Arrow
    batch against batch_search's 64 queries in one chunk."""
    import struct

    from go_simple_embedding_database_spark.operators import topk
    from go_simple_embedding_database_spark.operators.topk import (
        record_topk_batches)

    rows_per_batch = int(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch"))
    assert topk._SCORE_BLOCK_CELLS // rows_per_batch >= 64

    base = embeddings.select("vec_id", F.col("embedding")
                             .cast("array<double>").alias("embedding"))
    records = base.unionByName(spark.createDataFrame(
        [(90001, None), (90002, [1.0, None, 2.0]), (90003, [1.0, 2.0])],
        "vec_id long, embedding array<double>")).withColumn(
        "cell", F.col("vec_id") % 3)
    queries = (base.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_embedding"))
               .unionByName(spark.createDataFrame(
                   [(80001, None), (80002, [1.0, 0.0])],
                   "query_id long, query_embedding array<double>")))
    q_rows = queries.collect()
    qid_field = queries.schema["query_id"]
    batches = records.toArrow().to_batches(max_chunksize=97)
    routes = {0: [0, 1, 5], 1: [2, 3, 4, 6], 2: list(range(7))}

    def run(**route):
        fn = record_topk_batches(q_rows, qid_field, 4, "embedding", "s",
                                 ["vec_id"], ["vec_id"], **route)
        return [(r["query_id"], r["vec_id"],
                 None if r["s"] is None else struct.pack("<d", r["s"]))
                for out in fn(iter(batches)) for r in out.to_pylist()]

    for route in ({}, {"routes": routes, "route_col": "cell"}):
        whole = run(**route)
        monkeypatch.setattr(topk, "_SCORE_BLOCK_CELLS", 5)
        chunked = run(**route)
        monkeypatch.undo()
        assert chunked == whole and len(whole) > 0

    monkeypatch.setattr(topk, "_SCORE_BLOCK_CELLS", 5)
    got = batch_topk(base, queries.filter(F.col("query_id") < 5), 3,
                     score_col="s", tie_break=["vec_id"],
                     records_id="vec_id", attach_payload=False).collect()
    for q in q_rows[:5]:
        want = topk_by_similarity(base, list(q.query_embedding), 3,
                                  score_col="s", tie_break=["vec_id"])
        assert sorted((r.vec_id, r.s) for r in got
                      if r.query_id == q.query_id) == \
            sorted((r.vec_id, r.s) for r in want.collect())
