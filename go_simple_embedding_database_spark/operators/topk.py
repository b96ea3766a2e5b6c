"""Top-k similarity operators.

The reference's one real dataflow operator: brute-force cosine scan + full
sort + tie-aware k-selection (/root/reference/collection/collection.go:64-151).
Spark-first physical strategy:

- **single query** → ``orderBy(desc).limit(k)``: Catalyst plans
  ``TakeOrderedAndProject`` — a size-k heap per partition, then a k-way
  driver merge. O(N) work, O(partitions·k) merge, NO global sort and NO
  shuffle of all rows. This scales linearly with executors; the reference
  does an O(N log N) single-threaded sort (collection.go:98-103).
- **batch of queries** → the (small) query set is collected and rides
  the scorer's closure; one scan of the big table scores each record
  against every query and keeps only each query's k best rows per Arrow
  batch (``record_topk``), then one ``row_number()`` window partitioned
  by query (``group_topk``) merges those local winners into k each —
  local top-k, then global merge. One pass over the data regardless of the
  number of queries, and at most k·M rows per batch leave Python. Its
  per-batch function, ``record_topk_batches``, is the one code that
  ranks a query batch. It has two callers: ``record_topk`` (workers;
  ``batch_topk`` — and through it the k-NN ``similarity_join`` — and
  the IVF batch probe's cell scoring) and ``ann._nearest_centroids``
  (every IVF centroid ranking: the index build on the workers, both
  probes on the driver).

Tie semantics: ``limit``/``row_number`` keep an arbitrary subset of rows
tied at the k-th score — exactly k rows out, matching the reference's
Go-map-order tie fill (collection.go:105-135). Pass ``tie_break`` columns
for deterministic results (used by the DuckDB-oracle tests).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from go_simple_embedding_database_spark.functions.kernels import (
    cosine_scores_kernel)

# Cap on one score block's cells (rows × queries) in
# ``record_topk_batches``: a batch meets its queries in column chunks of
# ``_SCORE_BLOCK_CELLS // rows`` queries, so Python-worker memory stays
# bounded whatever the query-batch size M. A block peaks at ~60 bytes
# per cell across its score, mask, key and dot arrays (tracemalloc, 64
# dims), so 2^20 cells is ~63 MB; a full 10 000-row Arrow batch still
# meets up to 104 queries in one chunk.
_SCORE_BLOCK_CELLS = 1 << 20


def _order_keys(arr) -> list:
    """numpy sort keys (most significant first) that order the Arrow
    array ``arr`` like Spark's ``asc`` — NULLs first; for floating types
    NaN after every number and -0.0 == 0.0. Arrow's own rank puts NaN
    beside the NULLs, so floats get an explicit (class, value) pair;
    every other type ranks densely in Arrow (binary order for strings,
    as Spark's UTF8_BINARY compares)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if pa.types.is_floating(arr.type):
        v = arr.cast(pa.float64()).to_numpy(zero_copy_only=False)
        valid = ~arr.is_null().to_numpy(zero_copy_only=False)
        cls = np.where(~valid, 0, np.where(np.isnan(v), 2, 1))
        return [cls, np.where(cls == 1, v, 0.0)]
    return [pc.rank(arr, sort_keys="ascending", null_placement="at_start",
                    tiebreaker="dense").to_numpy().astype(np.int64)]


def _score_keys(s, null):
    """(class, -score) sort keys for Spark's ``desc(score)``: NaN first
    (Spark orders NaN above every double), then score descending, NULL
    last."""
    import numpy as np

    nan = np.isnan(s) & ~null
    cls = np.where(null, 2, np.where(nan, 0, 1))
    return cls, np.where(cls == 1, -s, 0.0)


def _first_k(S, null, ties: list, k: int):
    """(row, column) positions of each column's first ``k`` entries of
    the score block ``S`` (rows × queries) in the total order
    (``desc(score)``, then the per-row ``ties`` keys ascending).

    O(rows) per column: ``np.partition`` on a float key that is monotone
    in that order finds the k-th key; every entry up to and including the
    boundary ties is a candidate, and only a column with more than k
    candidates pays an exact lexsort — over its candidates alone."""
    import numpy as np

    if S.shape[0] <= k:
        return np.nonzero(np.ones(S.shape, dtype=bool))
    cls, neg = _score_keys(S, null)
    key = np.where(cls == 1, neg, np.where(cls == 0, -np.inf, np.inf))
    kth = np.partition(key, k - 1, axis=0)[k - 1]
    cand = key <= kth
    for j in np.flatnonzero(cand.sum(axis=0) > k):
        rows = np.flatnonzero(cand[:, j])
        order = np.lexsort([t[rows] for t in reversed(ties)]
                           + [neg[rows, j], cls[rows, j]])
        cand[rows[order[k:]], j] = False
    return np.nonzero(cand)


def record_topk_batches(q_rows: list, qid_field, k: int, records_vec: str,
                        score_col: str, keep_cols: list[str],
                        tie_cols: list[str], routes: dict | None = None,
                        route_col: str | None = None):
    """The record-form scorer's per-batch function: an iterator of Arrow
    record batches (holding ``records_vec``, ``keep_cols``, ``tie_cols``
    and, when routed, ``route_col``) → for each batch, the
    (query_id, *keep_cols, score_col) rows of each query's ``k`` best in
    the order ``desc(score)``, ``asc(tie_cols)``. Workers run it inside
    ``record_topk``'s mapInArrow; ``ann._nearest_centroids`` runs it over
    the collected centroids as one batch (so the per-batch top-k is the
    exact top-k), with the vectors to place as the queries.

    ``q_rows`` are the collected (query_id, query vector) rows, riding
    the closure; ``qid_field`` is the query_id StructField. Each record
    row is scored against its queries with the EXACT op sequence of
    ``cosine_similarity`` (strict left fold per dim, vectorized across
    rows and queries — no matmul; den-before-dot on a length mismatch;
    zero norm → 0.0; NULL vector → NULL; a NULL element on either side →
    NaN per the kernel contract), so kept scores are bit-identical to the
    pair kernel.

    ``routes`` (``route_col`` value → indices into ``q_rows``) scores a
    row only against the queries that may rank it — IVF's probe pairs;
    a row whose value has no route is dropped. Without routes every row
    meets every query. The record columns pass through as Arrow data,
    untouched, so any payload can ride along.

    A block of rows meets its queries in chunks of at most
    ``_SCORE_BLOCK_CELLS // rows`` queries (read when the closure is
    built); each query's top-k lies in one chunk, and the chunks' picks
    are put back in the unchunked (row, query) order, so the output does
    not depend on the chunking."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    from go_simple_embedding_database_spark.functions.kernels import (
        _fold_norm_block)

    query_id = qid_field.name
    keep_cols = list(dict.fromkeys(keep_cols))
    qid_arr = pa.array([r[0] for r in q_rows],
                       type=to_arrow_type(qid_field.dataType))
    qvecs = [None if r[1] is None else
             np.asarray([np.nan if v is None else float(v) for v in r[1]],
                        dtype=np.float64) for r in q_rows]
    m = len(qvecs)
    qdim = np.asarray([-1 if q is None else len(q) for q in qvecs],
                      dtype=np.int64)
    qnorm = np.asarray([np.nan if q is None else
                        _fold_norm_block(q.reshape(1, -1))[0]
                        for q in qvecs])
    # one (M × dim) matrix per query dimensionality, zero rows elsewhere
    qmats = {int(d): np.stack([q if q is not None and len(q) == d
                               else np.zeros(d) for q in qvecs])
             for d in set(qdim.tolist()) if d >= 0}
    route_idx = None if routes is None else {
        c: np.asarray(sorted(set(js)), dtype=np.int64)
        for c, js in routes.items()}
    block_cells = _SCORE_BLOCK_CELLS

    def score_block(X, J):
        """Scores and NULL mask of rows X (n × d) against queries J."""
        d = X.shape[1]
        S = np.zeros((len(X), len(J)))
        null = np.zeros(S.shape, dtype=bool)
        nx = _fold_norm_block(X)
        den = nx[:, None] * qnorm[J][None, :]
        same = qdim[J] == d
        # length mismatch: den-before-dot (kernels module) — a zero
        # denominator is 0.0, anything else NULL; a NULL query has a NaN
        # norm, so it lands here as NULL too
        null[:, ~same] = den[:, ~same] != 0.0
        if same.any():
            QT = qmats[d][J[same]].T
            XT = X.T.copy()
            dot = np.zeros((len(X), QT.shape[1]))
            for t in range(d):
                dot += XT[t][:, None] * QT[t][None, :]
            dn = den[:, same]
            with np.errstate(divide="ignore", invalid="ignore"):
                S[:, same] = np.where(dn == 0.0, 0.0, dot / dn)
        return S, null

    def block_topk(Rd, X, J, ties):
        """Each query of J's first k rows among Rd (X their vectors, None
        for NULL vectors), scored in query chunks of bounded size."""
        step = max(1, block_cells // len(Rd))
        picks = []
        for lo in range(0, len(J) or 1, step):
            Jc = J[lo:lo + step]
            if X is None:
                S = np.zeros((len(Rd), len(Jc)))
                null = np.ones(S.shape, dtype=bool)
            else:
                S, null = score_block(X, Jc)
            r, c = _first_k(S, null, ties, k)
            picks.append((r, c + lo, S[r, c], null[r, c]))
        r, c, s, null = (np.concatenate(p) for p in zip(*picks))
        if len(picks) > 1:
            order = np.lexsort([c, r])
            r, c, s, null = r[order], c[order], s[order], null[order]
        return Rd[r], J[c], s, null

    def topk_batches(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0 or m == 0 or k < 1:
                continue
            vec = batch.column(records_vec)
            lens = (vec.value_lengths().fill_null(-1)
                    .to_numpy(zero_copy_only=False).astype(np.int64))
            # a NULL element renders NaN here, as in the pair twins
            flat = (vec.flatten().cast(pa.float64())
                    .to_numpy(zero_copy_only=False))
            width = np.maximum(lens, 0)
            starts = np.cumsum(width) - width
            if route_idx is None:
                groups = [(np.arange(n), np.arange(m))]
            else:
                cell = batch.column(route_col).to_numpy(zero_copy_only=False)
                uniq, inv = np.unique(cell, return_inverse=True)
                groups = [(np.flatnonzero(inv == u), route_idx[c])
                          for u, c in enumerate(uniq.tolist())
                          if c in route_idx]
            ties = [key for c in tie_cols
                    for key in _order_keys(batch.column(c))]
            parts = []
            for R, J in groups:
                lr = lens[R]
                for d in np.unique(lr).tolist():
                    Rd = R[lr == d]
                    X = (None if d < 0 else
                         flat[starts[Rd][:, None] + np.arange(d)])
                    parts.append(
                        block_topk(Rd, X, J, [t[Rd] for t in ties]))
            if not parts:
                continue
            rows, qs, s, null = (np.concatenate(p) for p in zip(*parts))
            if len(parts) > 1:
                # several blocks can hold one query's candidates: one
                # exact sort by (query, score order, ties), then each
                # query's first k
                cls, neg = _score_keys(s, null)
                order = np.lexsort([t[rows] for t in reversed(ties)]
                                   + [neg, cls, qs])
                qsorted = qs[order]
                first = np.searchsorted(qsorted, qsorted, side="left")
                keep = order[np.arange(len(order)) - first < k]
                rows, qs, s, null = rows[keep], qs[keep], s[keep], null[keep]
            take = pa.array(rows)
            yield pa.RecordBatch.from_arrays(
                [qid_arr.take(pa.array(qs))]
                + [batch.column(c).take(take) for c in keep_cols]
                + [pa.array(s, mask=null, type=pa.float64())],
                names=[query_id, *keep_cols, score_col])

    return topk_batches


def record_topk(records: DataFrame, q_rows: list, qid_field, k: int,
                records_vec: str, score_col: str, keep_cols: list[str],
                tie_cols: list[str], routes: dict | None = None,
                route_col: str | None = None) -> DataFrame:
    """The record-form scorer: (query_id, *keep_cols, score_col) holding,
    for every Arrow batch of ``records``, only each query's ``k`` best
    rows (``record_topk_batches`` in mapInArrow) — the local top-k that
    ``group_topk`` then merges globally (global top-k ⊆ union of
    per-batch top-k). Each record row enters the worker once for all M
    queries, and at most k·M rows per batch leave Python instead of
    every (record, query) pair."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    keep_cols = list(dict.fromkeys(keep_cols))
    in_cols = list(dict.fromkeys(
        [records_vec, *keep_cols, *tie_cols]
        + ([route_col] if routes is not None else [])))
    schema = StructType(
        [qid_field] + [records.schema[c] for c in keep_cols]
        + [StructField(score_col, DoubleType())])
    return records.select(*in_cols).mapInArrow(
        record_topk_batches(q_rows, qid_field, k, records_vec, score_col,
                            keep_cols, tie_cols, routes, route_col),
        schema)


def group_topk(df: DataFrame, group_cols: list[str], order: list[Column],
               k: int) -> DataFrame:
    """Exact per-group top-k: the first ``k`` rows of each ``group_cols``
    group in ``order``, as one ``row_number()`` window — THE shared merge
    under ``batch_topk`` (and so ``similarity_join``), the IVF batch
    probe and ``sampling.weighted_sample``. ``row_number``
    (not ``rank``) keeps exactly k rows with an arbitrary tie fill; a
    TOTAL ``order`` (unique tie-break last) makes the result
    deterministic.

    Scale condition (the plan shows it, the code does not): for k ≤
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000)
    Catalyst puts a ``WindowGroupLimit … Partial`` below the exchange, so
    each map task ships at most k rows per group and one reducer holds at
    most (map tasks × k) rows of a group — local top-k, then global
    merge. Above the threshold there is no partial limit and all of a
    group's rows reach one task (AQE cannot split a window partition);
    a first window per (group, hash bucket) would bound that, but no
    caller uses k > 10, so it is a known limit, not a code path."""
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn"))


def topk_by_similarity(
    records: DataFrame,
    qvec: list[float],
    k: int,
    vec_col: str = "embedding",
    score_col: str = "score",
    tie_break: list[str] | None = None,
) -> DataFrame:
    """Exactly-k nearest rows to ``qvec`` by cosine similarity.

    Small-collection short-circuit (collection.go:75-82) is free: ``limit``
    on fewer than k rows returns them all, no error, no similarity needed
    by the optimizer to satisfy the contract (scores still projected for
    the returned rows).
    """
    scored = records.withColumn(
        score_col, cosine_scores_kernel(F.col(vec_col), qvec)
    )
    order = [F.desc(score_col)] + [F.asc(c) for c in (tie_break or [])]
    return scored.orderBy(*order).limit(k)


def batch_topk(
    records: DataFrame,
    queries: DataFrame,
    k: int,
    records_vec: str = "embedding",
    queries_vec: str = "query_embedding",
    query_id: str = "query_id",
    score_col: str = "score",
    tie_break: list[str] | None = None,
    records_id: str | None = None,
    attach_payload: bool = True,
) -> DataFrame:
    """Top-k per query for a whole DataFrame of queries in ONE scan.

    The (small, by construction — the working set of a request batch)
    query batch is collected and rides the ``record_topk`` closure: each
    record VECTOR enters the scoring stage exactly once for all M
    queries, and each Arrow batch emits only its k best rows per query
    (at most k·M rows, not N·M). The global per-query selection is
    ``group_topk``'s single window over ``query_id``, whose partial
    ``WindowGroupLimit`` caps each map task at k rows per query before
    the one exchange. Global top-k ⊆ union of per-batch top-k, so the
    result is exact. ``row_number`` (not ``rank``) reproduces
    exactly-k-with-arbitrary-ties.
    ``tie_break`` columns must be record columns (a query column is
    constant within a query, so it never breaks a tie).

    Without ``records_id`` every record column passes through the scorer
    and the window, and each winner comes back whole with its query
    columns (query vector dropped) and ``score_col``. With ``records_id``
    (a unique record key) the scorer and the shuffle carry only
    (query_id, id, score, tie columns) — the record payload (embedding
    included) is re-attached afterwards by broadcasting the k×|queries|
    winners against the records table: the wide columns are never
    shuffled at all. Pass it at scale when the payload is wide.

    ``attach_payload=False`` (only meaningful with ``records_id``) skips
    that re-attach join and returns the slim winners
    (query_id, records_id, score, tie columns) directly — for callers
    that only consume ids/scores (recall evaluation), the payload join
    is a whole extra corpus scan Catalyst cannot prune away (an inner
    join is not removable even when its columns go unused).
    """
    tie_cols = list(tie_break or [])
    stray = [c for c in tie_cols if c not in records.columns]
    if stray:
        raise ValueError(
            f"tie_break columns {stray} are not columns of the records")
    order = [F.desc(score_col)] + [F.asc(c) for c in tie_cols]
    q_rows = queries.select(query_id, queries_vec).collect()
    keep = records.columns if records_id is None else [records_id, *tie_cols]
    scored = record_topk(records, q_rows, queries.schema[query_id], k,
                         records_vec, score_col, keep, tie_cols)
    winners = group_topk(scored, [query_id], order, k)
    if records_id is not None and not attach_payload:
        return winners
    out = winners if records_id is None else records.join(
        F.broadcast(winners.select(
            *dict.fromkeys([records_id, query_id, score_col]))),
        records_id)
    qattrs = [c for c in queries.columns if c not in (query_id, queries_vec)]
    if qattrs:
        out = out.join(F.broadcast(queries.select(query_id, *qattrs)),
                       query_id)
    if records_id is None:
        out = out.select(*records.columns,
                         *[c for c in queries.columns if c != queries_vec],
                         score_col)
    return out


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    threshold: float | None = None,
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    left_id: str = "id",
    right_id: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """k-NN cosine join: for each left row, its ``k`` best right rows as
    (left_id, right_id, score_col), ranked by (score desc, right_id asc).

    The k-NN shape is "few queries (left) × huge corpus (right)", which
    is ``batch_topk``'s contract, so this is an adapter over it: the left
    side is the query batch (collected, riding the scorer's closure),
    the corpus is scanned in place — never shuffled, never collected —
    and the per-left merge is ``group_topk``'s one exchange on
    ``left_id``. Both sides are renamed before the call, so no right
    column can collide with ``left_id``. Left rows sharing an id form
    one group and share its k.

    ``threshold`` then keeps rows with score >= threshold. Filtering
    after the top-k equals filtering before it, because the kept rows
    are a prefix of each left row's order: Spark sorts NaN first under
    ``desc`` and NaN >= t holds, while NULL scores sort last and fail
    the filter. All-pairs threshold search is
    ``dedup.cosine_neardup_pairs``; at scale, ``operators.ann`` (LSH
    bucketing / IVF cells) cuts the candidate set.
    """
    out = batch_topk(
        right.select(F.col(right_id).alias("right_id"),
                     F.col(right_vec).alias("embedding")),
        left.select(F.col(left_id).alias("left_id"),
                    F.col(left_vec).alias("query_embedding")),
        k, query_id="left_id", score_col=score_col, tie_break=["right_id"],
        records_id="right_id", attach_payload=False,
    ).select("left_id", "right_id", score_col)
    if threshold is not None:
        out = out.filter(F.col(score_col) >= threshold)
    return out
