"""Distributed k-means over embedding columns, and SemDeDup-style
semantic near-duplicate detection built on its cells.

Reference scope: the reference stores embeddings and brute-force-scans
them per query (/root/reference/collection/collection.go:64-103); it has
no clustering. Clustering is the standard scale path for curating a
100 TB embedding corpus — IVF cell construction (operators/ann.py seeds
cells from a plain sample) and SemDeDup semantic dedup (Abbas et al.
2023: cluster, then near-dup only *within* a cluster) both need it.

Spark-first physical strategy (Lloyd's algorithm):

- the data is scanned once per iteration; per-point work is a pure
  Catalyst expression (no Python in the loop);
- centroids are tiny (k × dim doubles) and live driver-side between
  iterations, embedded as literals into the next pass — the classic
  broadcast-the-model shape. No join, no shuffle of the data itself;
- the only shuffle per iteration is the centroid update: a hash
  aggregation producing k × dim partial sums, combined map-side, so the
  exchange carries O(k·dim·partitions) longs no matter how many rows.

Cross-engine determinism (what makes the DuckDB oracle byte-exact):

- inputs are quantized ONCE to integers (``round(x*scale)``), so every
  per-cluster component sum is an exact, order-independent bigint;
- a centroid component is ``sum/n`` evaluated in IEEE double: division
  of two exactly-represented integers is correctly rounded, so Spark,
  DuckDB and Python produce the identical bit pattern;
- squared distances fold left-to-right over array order on both engines
  (Spark SQL ``aggregate`` here, ``list_reduce`` in DuckDB) — every
  basic double op
  is correctly rounded, so identical inputs + identical association
  order = identical distance bits, and argmin (ties broken by smallest
  cluster id via lexicographic struct min) picks the identical cell.

Empty clusters keep their previous centroid (same rule in the SQL twin
via a left join against the previous round's centroid list).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["quantize_vectors", "kmeans_fit", "kmeans_assign",
           "kmeans_cte_sql", "semantic_dedup_pairs"]


def quantize_vectors(vec: Column, scale: int) -> Column:
    """``array<double>`` -> exact ``array<bigint>`` (component * scale,
    half-away-from-zero — the rounding both Spark and DuckDB use)."""
    return F.transform(vec, lambda x: F.round(x.cast("double") * scale, 0)
                       .cast("long"))


def _sql_double(v: float) -> str:
    """Exact double literal: repr() is round-trip shortest-decimal and
    string->double parsing is correctly rounded, so the parsed constant
    is bit-identical to the Python float."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _dist2_sql(qvd_expr: str, centroid: list[float]) -> str:
    """Strict left fold of (x_i - c_i)^2 in array order (see module doc),
    as Spark SQL text. Built as ONE parsed expression instead of nested
    pyspark HOF builders: each Python-side lambda costs dozens of py4j
    round trips, and k x 2 lambdas per Lloyd round made expression
    CONSTRUCTION (driver Python, no job running) the dominant cost —
    measured ~0.6 s/round at k=8, dim=64 vs ~30 ms for the parsed text."""
    carr = "array(" + ",".join(_sql_double(v) for v in centroid) + ")"
    return (f"aggregate(zip_with({qvd_expr}, {carr}, "
            f"(a, b) -> (a - b) * (a - b)), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")


def _argmin_cell(qvd_expr: str, centroids: list[list[float]]) -> Column:
    """Index of the nearest centroid; ties -> smallest index (struct min
    is lexicographic on (distance, cluster_id)). ``qvd_expr`` is a SQL
    expression string for the double-array column.

    A NULL element poisons every centroid's fold, so all k distances are
    NULL and the struct min picks (NULL, 0): such a row lands in cell 0.
    Pinned with the tie and on-centroid cases by
    tests/test_clustering.py::test_argmin_cell_ties_and_malformed_rows."""
    structs = ", ".join(
        f"struct({_dist2_sql(qvd_expr, c)} AS d, {j} AS c)"
        for j, c in enumerate(centroids))
    return F.expr(f"array_min(array({structs})).c")


def kmeans_assign(df: DataFrame, centroids: list[list[float]],
                  vec_col: str = "embedding", scale: int = 1000,
                  cell_col: str = "cluster_id") -> DataFrame:
    """One assignment pass: adds ``cell_col`` = nearest-centroid index.

    Pure Catalyst projection — the physical plan is scan + project, no
    exchange; at 100 TB it parallelizes embarrassingly.

    An empty model (``centroids == []``, what ``kmeans_fit`` returns on a
    zero-row fit) assigns nothing: the result is the empty relation with
    the same schema — a filtered-to-zero upstream must flow through, not
    crash (``_argmin_cell`` over zero structs is unbuildable). Rows whose
    vector is NULL or not of the model dimension are excluded, the same
    malformed-row contract as ``kmeans_fit``."""
    if not centroids:
        return df.filter(F.lit(False)).withColumn(
            cell_col, F.lit(None).cast("int"))
    qvd = F.transform(quantize_vectors(F.col(vec_col), scale),
                      lambda x: x.cast("double"))
    return (df.filter(F.col(vec_col).isNotNull()
                      & (F.size(vec_col) == len(centroids[0])))
            .withColumn("_kmeans_qvd", qvd)
            .withColumn(cell_col,
                        _argmin_cell("_kmeans_qvd", centroids))
            .drop("_kmeans_qvd"))


def kmeans_fit(df: DataFrame, k: int, n_iter: int,
               vec_col: str = "embedding", id_col: str = "vec_id",
               scale: int = 1000) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means; returns (assignments, final centroids).

    Deterministic protocol: initial centroids are the quantized vectors
    of the ``k`` smallest ``id_col`` values; each subsequent centroid is
    the exact integer component sum over its members divided by the
    member count (IEEE double). ``n_iter`` update rounds are followed by
    one final assignment against the last centroids.

    Cost model at scale: n_iter+1 scans; per round one k-group hash agg
    whose exchange is bounded by k*dim*partitions regardless of rows;
    centroids (k*dim doubles) are the only driver-side state.

    Zero input rows return the EMPTY model ``(empty assignments, [])``
    rather than raising — a pruned or filtered-to-zero read must flow
    through a pipeline; ``0 < rows < k`` still raises (an ambiguous ask:
    there is data, but not enough for k distinct seeds).

    Malformed rows — NULL vector, or a vector whose length differs from
    the model dimension (set by the seed vectors) — are EXCLUDED from
    both the fit and the returned assignments: no distance to a
    d-dimensional centroid exists for them, and the per-component
    ``element_at`` sums would raise mid-job on the first short vector
    (found by tools/null_probe.py). Seeds themselves must agree on the
    dimension — ragged data in the k smallest ids is a caller error.
    """
    if k < 1 or n_iter < 0:
        raise ValueError("k >= 1 and n_iter >= 0 required")
    q = (df.filter(F.col(vec_col).isNotNull())
         .select(F.col(id_col).alias("_id"),
                 quantize_vectors(F.col(vec_col), scale).alias("_qv")))
    # Lloyd's re-reads the data n_iter+1 times; persist the quantized
    # projection so every round after the first reads cached columnar
    # batches instead of re-scanning (and re-quantizing) the source — the
    # standard iterative-ML caching contract. Unpersisted before return;
    # the returned assignment plan re-derives from the source.
    qd = (q.withColumn("_qvd", F.transform("_qv", lambda x: x.cast("double")))
          .persist())
    try:
        # Deterministic init: the k smallest ids. k rows — driver-side is
        # fine (TakeOrderedAndProject, not a sort).
        seed_rows = qd.orderBy("_id").limit(k).collect()
        if not seed_rows:
            # Zero rows is not a caller error at pipeline scale — it is a
            # filter or partition-pruned read that matched nothing. Empty
            # model: no centroids, and the assignment relation is the
            # empty frame with the contract schema.
            empty = (q.select(F.col("_id").alias(id_col),
                              F.lit(None).cast("int").alias("cluster_id"))
                     .filter(F.lit(False)))
            return empty, []
        if len(seed_rows) < k:
            raise ValueError(f"need at least k={k} rows, got {len(seed_rows)}")
        centroids = [[float(v) for v in r._qv] for r in sorted(
            seed_rows, key=lambda r: r._id)]
        dim = len(centroids[0])
        if any(len(c) != dim for c in centroids):
            raise ValueError(
                f"seed vectors disagree on dimension (first is {dim}): "
                f"the k smallest ids must share one vector length")
        # Model-dim rows only: a shorter vector would crash the
        # element_at component sums; a longer one would be silently
        # truncated by them while _argmin_cell zero-pads — neither is an
        # assignment, so mismatched rows are out (docstring contract).
        # New name — the finally must unpersist the PERSISTED frame.
        qdd = qd.filter(F.size("_qv") == dim)

        sum_cols = [F.expr(f"sum(element_at(_qv, {i + 1})) AS _s{i}")
                    for i in range(dim)]
        for _ in range(n_iter):
            assigned = qdd.withColumn(
                "_cell", _argmin_cell("_qvd", centroids))
            # Exact integer sufficient statistics: per-cell component sums
            # as dim COLUMN aggregates (not posexplode): partial aggregation
            # emits k rows per task either way, but explode would first
            # multiply rows by dim and shuffle (cell, i) keys — the column
            # form keeps the exchange at k rows x dim columns.
            sums = (assigned.groupBy("_cell")
                    .agg(F.count("*").alias("_n"), *sum_cols)
                    .collect())
            by_cell = {r._cell: r for r in sums}
            centroids = [
                [by_cell[j][f"_s{i}"] / by_cell[j]._n for i in range(dim)]
                if j in by_cell else centroids[j]
                for j in range(k)]
    finally:
        qd.unpersist()
    assignments = (q.filter(F.size("_qv") == len(centroids[0]))
        .withColumn("_qvd", F.transform("_qv", lambda x: x.cast("double")))
        .withColumn("_cell", _argmin_cell("_qvd", centroids))
        .select(F.col("_id").alias(id_col),
                F.col("_cell").alias("cluster_id")))
    return assignments, centroids


def _sql_dist2(qvd_expr: str, c_expr: str) -> str:
    return (f"list_reduce(list_transform({qvd_expr}, "
            f"(x, i) -> (x - ({c_expr})[i]) * (x - ({c_expr})[i])), "
            f"(a, b) -> a + b)")


def kmeans_cte_sql(table: str, k: int, n_iter: int,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   scale: int = 1000) -> str:
    """DuckDB CTE prefix computing the identical k-means assignment.

    Emits CTEs: ``q`` (quantized vectors), ``c0..c{n_iter}`` (centroid
    lists per round, ``(cid, cv)``), and ``assign`` — the final
    ``(id, cluster_id)``. Iterations are unrolled (no RECURSIVE needed;
    n_iter is a small constant). Used only by the sf<=0.1 oracle — the
    Spark path is the scale path."""
    parts = [f"""q AS (
  SELECT {id_col} AS _id,
         list_transform(CAST({vec_col} AS DOUBLE[]),
                        x -> CAST(round(x * {scale}, 0) AS BIGINT)) AS _qv
  FROM {table})""", f"""qd AS (
  SELECT _id, _qv, list_transform(_qv, x -> CAST(x AS DOUBLE)) AS _qvd
  FROM q)""", f"""c0 AS (
  SELECT (row_number() OVER (ORDER BY _id)) - 1 AS cid,
         list_transform(_qv, x -> CAST(x AS DOUBLE)) AS cv
  FROM qd ORDER BY _id LIMIT {k})"""]
    for it in range(n_iter):
        prev, cur = f"c{it}", f"c{it + 1}"
        parts.append(f"""a{it} AS (
  SELECT _id, _qv,
         list(cid ORDER BY {_sql_dist2('_qvd', 'cv')}, cid)[1] AS cell
  FROM qd CROSS JOIN {prev}
  GROUP BY _id, _qv)""")
        parts.append(f"""s{it} AS (
  SELECT cell, i, sum(x) AS s, count(*) AS n
  FROM (SELECT cell, unnest(_qv) AS x,
               generate_subscripts(_qv, 1) AS i FROM a{it})
  GROUP BY cell, i)""")
        parts.append(f"""{cur} AS (
  SELECT p.cid,
         coalesce(list(CAST(s.s AS DOUBLE) / s.n ORDER BY s.i), p.cv) AS cv
  FROM {prev} p LEFT JOIN s{it} s ON s.cell = p.cid
  GROUP BY p.cid, p.cv)""")
    parts.append(f"""assign AS (
  SELECT _id, list(cid ORDER BY {_sql_dist2('_qvd', 'cv')}, cid)[1] AS cluster_id
  FROM qd CROSS JOIN c{n_iter}
  GROUP BY _id)""")
    return ",\n".join(parts)


def semantic_dedup_pairs(df: DataFrame, centroids: list[list[float]],
                         threshold: float,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         scale: int = 1000) -> DataFrame:
    """SemDeDup candidate pairs: cosine >= threshold, but only *within*
    a k-means cell — the cluster replaces an O(N^2) corpus cross join
    with per-cell joins (sum of squared cell sizes), the published recipe
    for semantic dedup at dataset scale (Abbas et al. 2023, SemDeDup).

    Pair generation reuses the blocked cosine joins in ``operators.dedup``
    with the learned cell as the block column, through the per-cell GEMM
    kernel (one BLAS call per cell instead of an interpreted fold per
    candidate pair — the within-cell candidate count is quadratic in
    cell size, so the per-pair kernel dominated the whole query: measured
    4.6 s -> 0.9 s at sf0.1). A cell must fit in executor memory — true
    by construction for SemDeDup, where k is chosen to make cells small.
    """
    from go_simple_embedding_database_spark.operators.dedup import (
        cosine_neardup_pairs_gemm)
    cells = kmeans_assign(df, centroids, vec_col=vec_col, scale=scale)
    return cosine_neardup_pairs_gemm(cells, vec_col=vec_col, id_col=id_col,
                                     threshold=threshold,
                                     block_col="cluster_id")
