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


def test_arrow_kernel_bitwise_matches_hof_kernel(spark):
    """The Arrow-vectorized kernels (round-10 optimization) must be
    BIT-IDENTICAL to the Catalyst HOF kernel on every well-formed edge:
    identical/opposite/orthogonal vectors, zero norms, empty vectors,
    NULL vectors, length mismatches, NaN/Inf values, float32 promotion,
    and 64-dim vectors drawn from the real embeddings fixture shape.
    struct.pack comparison — repr/round would hide last-ulp drift."""
    import struct

    from go_simple_embedding_database_spark.functions.kernels import (
        cosine_pairs_kernel, cosine_scores_kernel, cosine_similarity,
        cosine_similarity_arrow, cosine_scores_arrow)

    rows = [
        ([0.0, 1.0, 2.0, 3.0], [0.0, 1.0, 2.0, 3.0]),
        ([0.0, 1.0, 2.0, 3.0], [0.0, -1.0, -2.0, -3.0]),
        ([1.0, 1.0, 0.0, 0.0], [1.0, -1.0, 0.0, 0.0]),
        ([0.0, 0.0, 0.0, 0.0], [1.0, 2.0, 3.0, 4.0]),   # zero norm -> 0.0
        ([], []),                                        # empty -> 0.0
        (None, [1.0, 2.0]),                              # NULL -> NULL
        ([1.0, 2.0], None),
        ([1.0, 2.0], [1.0, 2.0, 3.0]),                   # mismatch -> NULL
        ([float("nan"), 1.0], [1.0, 1.0]),               # NaN flows
        ([float("inf"), 1.0], [1.0, 1.0]),               # Inf flows
        # 64-dim deterministic pseudo-embeddings (the gate shape)
        ([float((i * 2654435761) % 1000) / 250.0 - 2.0 for i in range(64)],
         [float((i * 40503 + 7) % 1000) / 250.0 - 2.0 for i in range(64)]),
        ([float(i % 7) for i in range(64)],
         [float((i + 3) % 7) for i in range(64)]),
    ]
    df = spark.createDataFrame(rows, "x array<double>, y array<double>")

    def bits(col):
        out = df.select(col.alias("s")).collect()
        return [None if r.s is None
                else struct.pack("<d", r.s) for r in out]

    hof = bits(cosine_similarity(F.col("x"), F.col("y")))
    arrow = bits(cosine_similarity_arrow(F.col("x"), F.col("y")))
    assert arrow == hof

    # closure (literal-query) form, incl. the zero-norm and NaN rows
    for q in ([1.0, 2.0], [0.0, 0.0], [float((i * 31 + 1) % 17) / 4.0
                                       for i in range(64)]):
        hof_q = bits(cosine_similarity(
            F.col("x"), F.array(*[F.lit(float(v)) for v in q])))
        arrow_q = bits(cosine_scores_arrow(F.col("x"), q))
        assert arrow_q == hof_q, q

    # float32 promotion parity
    f32 = spark.createDataFrame([([1.1, 2.2], [3.3, 4.4])],
                                "x array<float>, y array<float>")
    a = f32.select(cosine_similarity(F.col("x"), F.col("y")).alias("s")) \
        .collect()[0].s
    b = f32.select(cosine_similarity_arrow(F.col("x"), F.col("y"))
                   .alias("s")).collect()[0].s
    assert struct.pack("<d", a) == struct.pack("<d", b)


def test_kernel_dispatch_honors_env(spark, monkeypatch):
    """cosine_pairs_kernel/cosine_scores_kernel: HOF by default (the
    sf0.1 bench regime sits below the ~15k-rows/stage crossover), Arrow
    when SPARK_GRAFT_COSINE_KERNEL=arrow (the production regime). Both
    modes must plan (and agree) — the switch is a physical choice only."""
    import struct

    from go_simple_embedding_database_spark.functions.kernels import (
        cosine_pairs_kernel, cosine_scores_kernel)
    from go_simple_embedding_database_spark.plans.explain_utils import (
        formatted_plan)

    df = spark.createDataFrame([([1.0, 2.0], [2.0, 1.0])],
                               "x array<double>, y array<double>")
    monkeypatch.delenv("SPARK_GRAFT_COSINE_KERNEL", raising=False)
    hof_col = cosine_pairs_kernel(F.col("x"), F.col("y"))
    assert "EvalPython" not in formatted_plan(df.select(hof_col))
    v_hof = df.select(hof_col.alias("s")).collect()[0].s

    monkeypatch.setenv("SPARK_GRAFT_COSINE_KERNEL", "arrow")
    arrow_col = cosine_pairs_kernel(F.col("x"), F.col("y"))
    assert "ArrowEvalPython" in formatted_plan(df.select(arrow_col))
    v_arrow = df.select(arrow_col.alias("s")).collect()[0].s
    assert struct.pack("<d", v_hof) == struct.pack("<d", v_arrow)

    # env is INTENTIONALLY still 'arrow' here: this draw exercises the
    # scores kernel's arrow dispatch (ADVICE r10 — the old name v_hof_q
    # misdescribed it, inviting a reorder that would drop the coverage)
    v_arrow_q = df.select(
        cosine_scores_kernel(F.col("x"), [1.0, 0.5]).alias("s")) \
        .collect()[0].s
    monkeypatch.delenv("SPARK_GRAFT_COSINE_KERNEL")
    v_hof_q = df.select(
        cosine_scores_kernel(F.col("x"), [1.0, 0.5]).alias("s")) \
        .collect()[0].s
    assert struct.pack("<d", v_arrow_q) == struct.pack("<d", v_hof_q)


def test_null_element_vectors_agree_in_both_modes(spark, monkeypatch):
    """Round-11 closure of the r10 'KNOWN EDGE': a NULL element inside a
    vector scores NaN under BOTH kernel modes (module docstring's
    NULL-element convention), so SPARK_GRAFT_COSINE_KERNEL is a pure
    physical-plan choice on EVERY input, malformed ones included. NULL
    vectors and length mismatches keep their NULL/0.0 semantics."""
    import math

    from go_simple_embedding_database_spark.functions.kernels import (
        cosine_pairs_kernel, cosine_scores_kernel)

    rows = [
        ([1.0, None, 2.0], [1.0, 1.0, 1.0]),   # NULL element -> NaN
        ([1.0, 1.0, 1.0], [None, None, None]),  # all-NULL elements -> NaN
        ([1.0, None], [1.0, 2.0, 3.0]),         # NULL elem + mismatch -> NULL
        ([0.0, 0.0], [1.0, None, 3.0]),         # zero-norm x + mismatch
        (None, [1.0, None]),                    # NULL vector -> NULL
        ([1.0, 2.0, 3.0], [1.0, 1.0, 1.0]),     # well-formed control
    ]
    df = spark.createDataFrame(rows, "x array<double>, y array<double>")

    def sample():
        out = df.select(
            cosine_pairs_kernel(F.col("x"), F.col("y")).alias("p"),
            cosine_scores_kernel(F.col("x"), [1.0, 1.0, 1.0]).alias("q"),
        ).collect()
        return [("nan" if isinstance(v, float) and math.isnan(v) else v)
                for r in out for v in (r.p, r.q)]

    monkeypatch.delenv("SPARK_GRAFT_COSINE_KERNEL", raising=False)
    hof = sample()
    monkeypatch.setenv("SPARK_GRAFT_COSINE_KERNEL", "arrow")
    arrow = sample()
    assert hof == arrow
    # the formerly-divergent case is now NaN in both modes
    assert hof[0] == "nan" and hof[2] == "nan"
    # NULL vector stays NULL; zero-norm-side mismatch stays 0.0 (row 3's
    # scores draw: [0.0, 0.0] vs the 3-dim literal query)
    assert hof[8] is None and hof[7] == 0.0
