"""Cosine-kernel micro-fixtures from the reference's utils_test.go
(/root/reference/utils/utils_test.go:7-53) — FIXTURES.md §5."""

import math

import pytest
from pyspark.sql import functions as F

from go_simple_embedding_database_spark.functions.kernels import (
    cosine_similarity,
    dot_product,
    l2_norm,
)


def _sim(spark, x, y, strict=False):
    df = spark.createDataFrame(
        [(list(map(float, x)), list(map(float, y)))], "x array<double>, y array<double>"
    )
    return df.select(
        cosine_similarity(F.col("x"), F.col("y"), strict=strict).alias("s")
    ).collect()[0].s


def test_identical_vectors(spark):
    assert _sim(spark, [0, 1, 2, 3], [0, 1, 2, 3]) == pytest.approx(1.0)


def test_opposite_vectors(spark):
    assert _sim(spark, [0, 1, 2, 3], [0, -1, -2, -3]) == pytest.approx(-1.0)


def test_orthogonal_vectors(spark):
    assert _sim(spark, [1, 1], [1, -1]) == pytest.approx(0.0)


def test_zero_norm_returns_zero_no_error(spark):
    # utils/utils.go:19-21: zero vector → 0.0, NOT an error.
    assert _sim(spark, [0, 0, 0], [1, 2, 3]) == 0.0
    assert _sim(spark, [1, 2, 3], [0, 0, 0]) == 0.0
    assert _sim(spark, [0, 0], [0, 0]) == 0.0


def test_length_mismatch_strict_raises(spark):
    # utils/utils.go:11-13: length mismatch is an error.
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    with pytest.raises((Py4JJavaError, PySparkException)):
        _sim(spark, [1, 1], [1, -1, 2], strict=True)


def test_length_mismatch_nonstrict_yields_null(spark):
    # Vectorized mode: mismatches surface as NULL, never a wrong number.
    assert _sim(spark, [1, 1], [1, -1, 2]) is None


def test_dot_and_norm(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "x array<double>, y array<double>")
    row = df.select(
        dot_product(F.col("x"), F.col("y")).alias("d"),
        l2_norm(F.col("x")).alias("n"),
    ).collect()[0]
    assert row.d == pytest.approx(32.0)
    assert row.n == pytest.approx(math.sqrt(14.0))


def test_float_arrays_promoted(spark):
    # embeddings.parquet stores array<float>; kernel must promote to double.
    df = spark.createDataFrame([([1.0, 2.0], [1.0, 2.0])], "x array<float>, y array<float>")
    assert df.select(
        cosine_similarity(F.col("x"), F.col("y")).alias("s")
    ).collect()[0].s == pytest.approx(1.0)


def test_kernel_stays_in_codegen(spark):
    """The similarity scan must not cross into Python: no BatchEvalPython /
    ArrowEvalPython in the plan — pure Catalyst expressions."""
    from go_simple_embedding_database_spark.plans.explain_utils import formatted_plan

    df = spark.range(10).select(
        F.array(F.col("id").cast("double")).alias("x"),
        F.array(F.col("id").cast("double")).alias("y"),
    )
    plan = formatted_plan(df.select(cosine_similarity(F.col("x"), F.col("y"))))
    assert "EvalPython" not in plan


def test_well_formed_vector_twins_agree_on_every_edge(spark):
    """The r11 malformed-embedding scan guard, landed library-first:
    both twins accept exactly the fully-populated finite dim-width
    vectors and reject NULL vectors, NULL elements, NaN, +-Inf and
    wrong widths — the same verdict per row, engine for engine."""
    import duckdb

    from go_simple_embedding_database_spark.functions.kernels import (
        well_formed_vector, well_formed_vector_sql)

    nan, inf = float("nan"), float("inf")
    cases = [("clean", [1.0, -2.5], True), ("zero", [0.0, 0.0], True),
             ("nanv", [nan, 1.0], False), ("infv", [inf, 1.0], False),
             ("neginf", [1.0, -inf], False), ("short", [1.0], False),
             ("long", [1.0, 2.0, 3.0], False), ("nullvec", None, False)]
    df = spark.createDataFrame([(k, v) for k, v, _ in cases],
                               "k string, v array<double>")
    got = {r.k: r.ok for r in df.select(
        "k", well_formed_vector(F.col("v"), 2).alias("ok")).collect()}
    con = duckdb.connect()
    # literal SQL per case: the python client binds NaN in lists as NULL
    lits = {"clean": "[1.0, -2.5]", "zero": "[0.0, 0.0]",
            "nanv": "['nan'::DOUBLE, 1.0]", "infv": "['inf'::DOUBLE, 1.0]",
            "neginf": "[1.0, '-inf'::DOUBLE]", "short": "[1.0]",
            "long": "[1.0, 2.0, 3.0]", "nullvec": "NULL::DOUBLE[]"}
    pred = well_formed_vector_sql("v", 2)
    for k, _, want in cases:
        assert got[k] == want, (k, got[k], want)
        d = con.sql(f"SELECT {pred} FROM (SELECT {lits[k]} AS v)"
                    ).fetchone()[0]
        assert bool(d) == want, (k, d, want)
    # the NULL-element edge (separate: array literal typing)
    nullel = df.sparkSession.createDataFrame(
        [("nullel",)], "k string").select(
        "k", F.array(F.lit(None).cast("double"), F.lit(1.0)).alias("v"))
    r = nullel.select(well_formed_vector(F.col("v"), 2).alias("ok")
                      ).collect()[0]
    assert r.ok is False
    d = con.sql(f"SELECT {well_formed_vector_sql('v', 2)} FROM "
                "(SELECT [NULL, 1.0]::DOUBLE[] AS v)").fetchone()[0]
    assert bool(d) is False


def test_null_element_vectors_score_nan(spark):
    """A NULL element inside a vector scores NaN in both bulk kernels
    (module docstring's NULL-element convention — the value the record
    scorer computes). NULL vectors and length mismatches keep their
    NULL/0.0 semantics, and neither kernel plans a Python evaluator."""
    from go_simple_embedding_database_spark.functions.kernels import (
        cosine_pairs_kernel, cosine_scores_kernel)
    from go_simple_embedding_database_spark.plans.explain_utils import (
        assert_not_in_plan)

    rows = [
        ([1.0, None, 2.0], [1.0, 1.0, 1.0]),   # NULL element -> NaN
        ([1.0, 1.0, 1.0], [None, None, None]),  # all-NULL elements -> NaN
        ([1.0, None], [1.0, 2.0, 3.0]),         # NULL elem + mismatch -> NULL
        ([0.0, 0.0], [1.0, None, 3.0]),         # zero-norm x + mismatch
        (None, [1.0, None]),                    # NULL vector -> NULL
        ([1.0, 2.0, 3.0], [1.0, 1.0, 1.0]),     # well-formed control
    ]
    df = spark.createDataFrame(rows, "x array<double>, y array<double>")
    scored = df.select(
        cosine_pairs_kernel(F.col("x"), F.col("y")).alias("p"),
        cosine_scores_kernel(F.col("x"), [1.0, 1.0, 1.0]).alias("q"))
    assert_not_in_plan(scored, "EvalPython")
    got = [("nan" if isinstance(v, float) and math.isnan(v) else v)
           for r in scored.collect() for v in (r.p, r.q)]
    # (pair, literal-query) score per row
    assert got[:3] == ["nan", "nan", "nan"]
    assert got[3] == pytest.approx(1.0)
    # NULL vector stays NULL; the zero-norm side against the 3-dim
    # literal query is 0.0 despite the length mismatch
    assert got[4:10] == [None, None, None, 0.0, None, None]
    assert got[10:] == pytest.approx([6.0 / math.sqrt(42.0)] * 2)
