"""Vector kernels: Catalyst higher-order-function expressions.

Reference parity: ``CosineSimilarity`` (/root/reference/utils/utils.go:9-24):
  cos(x,y) = Σ xᵢyᵢ / (‖x‖·‖y‖)
  - length mismatch  → error      (utils/utils.go:11-13)
  - either norm == 0 → 0.0, NO error (utils/utils.go:19-21)

One evaluator: ``cosine_similarity``, the pure-Catalyst HOF expression
(``zip_with`` + ``aggregate``). No Python boundary; the SQL registry
mirrors it. Catalyst higher-order functions are CodegenFallback — each
row evaluates the lambda tree interpreted, measured ~15 µs/row for
dim=64 (round-10 optimization pass), so a scoring scan burns one
core-second per ~65k rows. Query batches and IVF centroids are ranked
by ``operators.topk.record_topk_batches`` instead, which runs the same
strict left fold over the dimension (``acc = acc + x_d * y_d``)
vectorized across rows and queries, so its scores are bit-identical to
this kernel. numpy's own ``dot``/``einsum`` are deliberately NOT used
there — pairwise summation rounds differently from a left fold.

``cosine_pairs_kernel`` / ``cosine_scores_kernel`` are the bulk scoring
entry points: ``cosine_similarity`` plus the NULL-element convention. A
NULL *element* inside an otherwise well-formed vector scores **NaN**,
the value the record scorer computes (Arrow→numpy renders a null list
element as NaN). The HOF reaches it through ``_null_element_to_nan`` —
a codegen CASE over the already-computed fold (a NULL fold result under
non-NULL, length-matched inputs can ONLY mean a NULL element poisoned
it), so the well-formed hot path pays two O(1) size/null checks and
nothing else. NULL *vectors*, length mismatches, zero norms and
NaN/±Inf values keep ``cosine_similarity``'s semantics. Pinned by
tests/test_kernels.py::test_null_element_vectors_score_nan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    """Promote array<float>/array<int> to array<double> so arithmetic is f64
    (reference vectors are []float64, records/records.go:12)."""
    return v.cast("array<double>")


def dot_product(x: Column, y: Column) -> Column:
    """Σ xᵢyᵢ as a sequential left fold (deterministic order, matching a
    scalar loop — utils/utils.go:14-18)."""
    x, y = _as_double(x), _as_double(y)
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm_sq(x: Column) -> Column:
    """Σ xᵢ² (the un-rooted norm; kept separate so cosine can take one sqrt
    per side like the reference does, utils/utils.go:22-23)."""
    x = _as_double(x)
    return F.aggregate(x, F.lit(0.0), lambda acc, v: acc + v * v)


def l2_norm(x: Column) -> Column:
    return F.sqrt(l2_norm_sq(x))


def cosine_similarity(x: Column, y: Column, *, strict: bool = False) -> Column:
    """Cosine similarity column expression with reference semantics.

    ``strict=True`` raises at evaluation time on length mismatch (parity
    with utils/utils.go:11-13). With ``strict=False`` (the vectorized
    default for homogeneous columns) mismatched lengths yield NULL —
    ``zip_with`` pads with nulls, which poison the fold — so mismatches
    are visible, not silently wrong.

    Zero-norm vectors return 0.0 with no error (utils/utils.go:19-21).
    NULL inputs propagate NULL (SQL semantics; insertion of null embeddings
    is rejected upstream, collection/collection.go:40-42).
    """
    x, y = _as_double(x), _as_double(y)
    # Let-bind (dot, denom) through a one-element transform: referencing
    # `denom` in both the WHEN condition and the ELSE branch would fold
    # both norm aggregates twice per row (Catalyst does not CSE across
    # conditional branches) — 2× the kernel cost on a full scan.
    pair = F.array(F.struct(
        dot_product(x, y).alias("dot"),
        (l2_norm(x) * l2_norm(y)).alias("den"),
    ))
    sim = F.element_at(
        F.transform(pair, lambda s: F.when(s["den"] == F.lit(0.0), F.lit(0.0))
                    .otherwise(s["dot"] / s["den"])), 1)
    if strict:
        mismatch = F.size(x) != F.size(y)
        sim = F.when(
            mismatch,
            F.raise_error(
                F.format_string(
                    "lengths of x (%d) and y (%d) do not match",
                    F.size(x),
                    F.size(y),
                )
            ).cast("double"),
        ).otherwise(sim)
    return sim


def _fold_norm_block(X: "np.ndarray") -> "np.ndarray":
    """sqrt(Σ x²) per row with the kernel's left-fold association order
    (the record scorer's norm, ``operators.topk.record_topk_batches``)."""
    acc = np.zeros(X.shape[0])
    for d in range(X.shape[1]):
        xd = X[:, d]
        acc = acc + xd * xd
    return np.sqrt(acc)


def _null_element_to_nan(sim: Column, x: Column, y: Column) -> Column:
    """Map the HOF kernel's NULL-element outcome to the kernel-contract
    NaN (module docstring). Under non-NULL inputs of EQUAL length the
    fold result is NULL iff a NULL element poisoned it — every other
    NULL source (NULL vector, length mismatch) is excluded by the
    guards, so this rewrites exactly that case and nothing else.

    Implementation is ``coalesce(sim, <guarded NaN>)``: coalesce
    evaluates ``sim`` exactly ONCE and short-circuits — on the
    well-formed hot path (sim non-NULL) the guard expression is never
    evaluated at all, so the per-row cost is one null check. The two
    rejected shapes, measured: a plain ``when(sim.isNull() & ..., NaN)
    .otherwise(sim)`` plants the fold under BOTH the condition and the
    ELSE branch and Catalyst does not CSE across conditional branches
    (2× the kernel cost — caught in the r11 plan diff); let-binding the
    fold through a one-element transform evaluates it once but pays an
    interpreted array/struct wrap per row (+28% on the sf0.1 scoring
    scan, measured by alternating A/B)."""
    return F.coalesce(
        sim,
        F.when(x.isNotNull() & y.isNotNull() & (F.size(x) == F.size(y)),
               F.lit(float("nan"))))


def cosine_pairs_kernel(x: Column, y: Column) -> Column:
    """Bulk pair-scoring kernel: ``cosine_similarity(x, y)`` plus the
    NULL-element → NaN rule (module docstring)."""
    x, y = _as_double(x), _as_double(y)
    return _null_element_to_nan(cosine_similarity(x, y), x, y)


def cosine_scores_kernel(vec: Column, qvec: list[float]) -> Column:
    """Bulk literal-query scoring kernel:
    ``cosine_similarity(vec, array(<qvec literals>))`` plus the
    NULL-element → NaN rule (module docstring)."""
    vec = _as_double(vec)
    q = F.array(*[F.lit(float(v)) for v in qvec])
    return _null_element_to_nan(cosine_similarity(vec, q), vec, q)


def well_formed_vector(v: Column, dim: int) -> Column:
    """Boolean predicate: ``v`` is a fully-populated, FINITE vector of
    exactly ``dim`` elements — the ingest contract the reference's
    AddRecord enforces upstream (collection/collection.go:32-45 rejects
    malformed records), expressed as a scan-time filter for corpora
    that arrive without that gate.

    Library-first landing for the round-11 malformed-embedding class
    fix (tests/test_malformed_embeddings.py pins the current
    divergences): one NaN/Inf coordinate makes Spark's cosine NaN
    where DuckDB's returns -1.0, NaN tops a Spark DESC ranking, and
    quantization throws in both engines. Filtering at the scan closes
    all three with ONE predicate. Pure Catalyst (isnan + comparisons
    inside exists over a codegen'd HOF) — no UDF, stays inside
    whole-stage codegen and pushes no worse than any other derived
    predicate. It is wired into no scan and no ingest path yet: it ships
    tested but unused, so the certified gate plans stay byte-identical.
    The planned wiring is the ingest doors (``add_records``, the JSON
    import, streaming ingest), not the scan (ROADMAP item 3)."""
    bad = F.exists(
        v, lambda x: x.isNull() | F.isnan(x.cast("double"))
        | (x.cast("double") == F.lit(float("inf")))
        | (x.cast("double") == F.lit(float("-inf"))))
    return v.isNotNull() & (F.size(v) == dim) & ~bad


def well_formed_vector_sql(expr: str, dim: int) -> str:
    """DuckDB twin of :func:`well_formed_vector` — same four checks,
    same NULL semantics (a NULL vector fails the predicate rather than
    yielding NULL: the conjunction starts from ``IS NOT NULL``)."""
    return (
        f"({expr} IS NOT NULL AND len({expr}) = {dim} "
        f"AND len(list_filter({expr}, x -> x IS NULL "
        f"OR isnan(CAST(x AS DOUBLE)) "
        f"OR NOT isfinite(CAST(x AS DOUBLE)))) = 0)"
    )
