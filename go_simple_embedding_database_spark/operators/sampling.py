"""Deterministic corpus sampling — temperature-weighted domain mixtures.

Training-data pipelines rarely take a corpus as-is: they re-weight domains
(sources, languages) toward a target mixture — the classic
``w_s ∝ n_s^alpha`` temperature sampling that up-weights small domains
(alpha < 1) without letting the largest domain swamp the batch. The
reference has no sampling at all; this extends the corpus-ops surface
(SURVEY.md §2 extensions) alongside balanced_sample / train-split.

Everything here is RELATIONAL and deterministic:

- Per-domain rates are computed from a per-domain count aggregate — a
  domains-sized (tiny) relation, derived with window-free aggregates and
  a cross join against the one-row total. No driver collect.
- Row selection is a pure hash threshold: a row is in the sample iff
  ``md5(id) mod 10000 < rate_10k(domain)``. No per-domain sort, no
  row_number window, no shuffle beyond the broadcast rate join — every
  row decides its own membership from its id alone, which is the only
  formulation that survives 100 TB (rank-based selection needs a
  per-domain global sort). Deterministic ⇒ the DuckDB oracle reproduces
  the exact same sample.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_simple_embedding_database_spark.operators.topk import group_topk

HASH_MOD = 10000


def hash_bucket(col, mod: int = HASH_MOD):
    """First 4 md5 hex chars of the value's string form, as an int mod
    ``mod`` — the same portable construction as the corpus split bucket
    (__spark_entry__._split_bucket), parameterized by modulus."""
    return (F.conv(F.substring(F.md5(col.cast("string").cast("binary")), 1, 4),
                   16, 10).cast("bigint") % mod)


def hash_bucket_sql(expr: str, mod: int = HASH_MOD) -> str:
    return (f"CAST(concat('0x', substr(md5(CAST({expr} AS VARCHAR)), 1, 4)) "
            f"AS BIGINT) % {mod}")


def temperature_rates(df: DataFrame, domain_col: str, alpha: float,
                      budget: int) -> DataFrame:
    """Per-domain sampling rates for a temperature-``alpha`` mixture with a
    total row ``budget``: target_n(s) = floor(budget * w_s / sum_t w_t)
    capped at n_s, rate_10k = ceil(10000 * target / n). Returns
    (domain_col, n_docs, target_n, rate_10k) — a domains-sized relation.

    Cross-engine determinism: the per-domain weight is quantized to an
    exact integer, ``w_s = round(n_s^alpha * 1000)`` — summing DOUBLES
    across domains is order-dependent in the last ulp (Spark's agg order
    is nondeterministic), so an exact-integer sum is the only formulation
    whose floor/ceil boundaries are engine-independent. All downstream
    divisions are IEEE-exact operations on integers < 2^53, which every
    engine rounds identically."""
    counts = df.groupBy(domain_col).agg(F.count("*").alias("n_docs"))
    w = F.round(F.pow(F.col("n_docs").cast("double"), alpha) * 1000.0, 0)\
        .cast("bigint")
    counts = counts.withColumn("_w", w)
    tot = counts.agg(F.sum("_w").alias("_wsum"))
    target = F.least(
        F.col("n_docs"),
        F.floor(F.lit(float(budget)) * F.col("_w") / F.col("_wsum"))
        .cast("bigint"))
    return (counts.crossJoin(F.broadcast(tot))
            .withColumn("target_n", target)
            .withColumn("rate_10k", F.least(
                F.lit(HASH_MOD).cast("bigint"),
                F.ceil(F.lit(float(HASH_MOD)) * F.col("target_n")
                       / F.col("n_docs")).cast("bigint")))
            .select(domain_col, "n_docs", "target_n", "rate_10k"))


def temperature_sample(df: DataFrame, domain_col: str, id_col: str,
                       alpha: float = 0.5, budget: int = 250,
                       rates: DataFrame | None = None) -> DataFrame:
    """The sampled rows: broadcast-join the tiny rates relation and keep
    rows whose id hash bucket clears the domain's rate threshold. Pass a
    precomputed ``rates`` (from ``temperature_rates``) to avoid
    re-aggregating the corpus when the caller already holds one."""
    if rates is None:
        rates = temperature_rates(df, domain_col, alpha, budget)
    return (df.join(F.broadcast(rates.select(domain_col, "rate_10k")),
                    domain_col)
            .filter(hash_bucket(F.col(id_col)) < F.col("rate_10k"))
            .drop("rate_10k"))


def mixture_report(df: DataFrame, domain_col: str, id_col: str,
                   alpha: float = 0.5, budget: int = 250) -> DataFrame:
    """Per-domain audit of the sample: corpus size, target, achieved.
    ``sampled_n`` deviates from ``target_n`` by hash-bucket granularity
    (the threshold admits whatever ids hash below it) — the report makes
    that deviation visible, which is the point. The rates relation is
    computed ONCE and shared with the sampler (it feeds both the report
    columns and the sampling threshold) — and MATERIALIZED once (lazy
    localCheckpoint): its three consumers (report columns, broadcast
    threshold, final join) otherwise each replay the corpus aggregation
    — five scans of the corpus in the static plan for a domains-sized
    relation (round-8 scan-count audit)."""
    rates = temperature_rates(df, domain_col, alpha, budget)\
        .localCheckpoint(eager=False)
    sampled = (temperature_sample(df, domain_col, id_col, alpha, budget,
                                  rates=rates)
               .groupBy(domain_col).agg(F.count("*").alias("sampled_n")))
    return (rates.join(sampled, domain_col, "left")
            .select(domain_col, "n_docs", "target_n",
                    F.coalesce("sampled_n", F.lit(0)).alias("sampled_n")))


def budget_select(df: DataFrame, id_col: str, key_col: str, cost_col: str,
                  budget: int, bucket_width: int = 32) -> DataFrame:
    """Global greedy prefix under a total cost budget — "take documents in
    priority order until the token budget is spent", the corpus-selection
    primitive behind quality-filtered pretraining mixes. Semantics: order
    rows by (key DESC, id ASC); a row is selected iff its inclusive
    running ``cost`` sum is <= ``budget`` (costs are non-negative, so the
    selected set is a true prefix).

    The naive formulation is a single global window
    (``SUM(cost) OVER (ORDER BY key DESC, id)``) — one partition holding
    the entire corpus, the canonical 100 TB scale-killer. This is instead
    the two-phase histogram refinement:

    1. HISTOGRAM: aggregate (count, sum cost) per key band
       ``bucket = floor(key / bucket_width)`` — a bands-sized relation
       (hundreds of rows), map-side combined, one scan.
    2. BAND CUMSUM driver-side: the histogram is collected (a bands-sized
       relation — bounded by key_range / bucket_width, NOT by corpus row
       count, the same legitimate tiny-relation collect as the IVF probe
       cells) and a running sum in band-DESC order marks each band FULL
       (cumulative through the band fits the budget), BOUNDARY (first
       band that overflows), or excluded. Only the ONE boundary band
       needs row-level resolution. Collecting instead of windowing the
       tiny frame guarantees the corpus-scanning histogram runs exactly
       once — as a lazy subtree it would re-evaluate under every
       consuming branch of the union.
    3. SELECT: full-band rows pass with a broadcast band-status join (no
       window at all); boundary-band rows — one band's worth, bounded by
       the band width not the corpus — get the fine-grained window with
       ``prior`` (tokens of all fuller bands) added. Union of the two.

    All costs/keys must be exact integers: the inclusive-cumsum-vs-budget
    comparison is a hard boundary, and float sums are aggregation-order-
    dependent (see temperature_rates). Equal keys always share a band, so
    band order refines global order and the union equals the naive global
    prefix exactly (property-tested against it in tests/test_sampling.py).
    If one band could still exceed a partition at the target scale,
    recurse: re-histogram the boundary band on a finer width.

    Rows with a NULL key or NULL cost are EXCLUDED: a row with no
    priority cannot be ordered and a row with no cost cannot be
    budgeted, and a NULL band would crash the driver-side band cumsum
    (a real state at scale — failed enrichments leave NULL quality
    keys; found by tools/null_probe.py).
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(key_col).cast("bigint").alias("_key"),
        F.col(cost_col).cast("bigint").alias("_cost"),
        "*").filter(F.col("_key").isNotNull() & F.col("_cost").isNotNull())
    base = base.withColumn("_bucket",
                           F.floor(F.col("_key") / bucket_width).cast("bigint"))
    hist = (base.groupBy("_bucket")
            .agg(F.sum("_cost").alias("_btok"))
            .collect())
    cum, status_rows = 0, []
    for r in sorted(hist, key=lambda r: -r["_bucket"]):
        prior, cum = cum, cum + r["_btok"]
        st = ("full" if cum <= budget
              else "boundary" if prior <= budget else "out")
        if st != "out":
            status_rows.append((r["_bucket"], prior, st))
    status = df.sparkSession.createDataFrame(
        status_rows, "_bucket bigint, _prior bigint, _status string")
    tagged = base.join(F.broadcast(status), "_bucket")
    full_rows = tagged.filter(F.col("_status") == "full")
    from pyspark.sql import Window
    wr = Window.partitionBy("_bucket") \
        .orderBy(F.col("_key").desc(), F.col("_id").asc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    boundary_rows = (tagged.filter(F.col("_status") == "boundary")
                     .withColumn("_cum", F.col("_prior")
                                 + F.sum("_cost").over(wr))
                     .filter(F.col("_cum") <= budget)
                     .drop("_cum"))
    drop = ["_id", "_key", "_cost", "_bucket", "_prior", "_status"]
    return full_rows.unionByName(boundary_rows).drop(*drop)


def budget_select_sql(table: str, id_col: str, key_expr: str, cost_expr: str,
                      budget: int) -> str:
    """DuckDB twin of ``budget_select`` — the naive global-window prefix,
    which the histogram refinement must equal exactly."""
    return f"""
WITH scored AS (
  SELECT *, {cost_expr} AS _cost,
         sum({cost_expr}) OVER (ORDER BY {key_expr} DESC, {id_col} ASC
                                ROWS UNBOUNDED PRECEDING) AS _cum
  FROM {table})
SELECT * EXCLUDE (_cost, _cum) FROM scored WHERE _cum <= {budget}
"""


def temperature_sample_sql(table: str, domain_col: str, id_col: str,
                           alpha: float = 0.5, budget: int = 250,
                           report: bool = True) -> str:
    """DuckDB twin — same counts, same floor/ceil/least arithmetic, same
    hash threshold."""
    bucket = hash_bucket_sql(id_col)
    core = f"""
counts AS (
  SELECT {domain_col}, count(*) AS n_docs,
         CAST(round(pow(CAST(count(*) AS DOUBLE), {alpha}) * 1000.0) AS BIGINT) AS _w
  FROM {table} GROUP BY {domain_col}),
tot AS (SELECT sum(_w) AS _wsum FROM counts),
rates AS (
  SELECT {domain_col}, n_docs,
         least(n_docs, CAST(floor({float(budget)} * _w / _wsum) AS BIGINT)) AS target_n
  FROM counts CROSS JOIN tot),
rates2 AS (
  SELECT *, least({HASH_MOD}, CAST(ceil({float(HASH_MOD)} * target_n / n_docs)
                              AS BIGINT)) AS rate_10k
  FROM rates),
sampled AS (
  SELECT t.{domain_col}, count(*) AS sampled_n
  FROM {table} t JOIN rates2 r ON t.{domain_col} = r.{domain_col}
  WHERE {bucket} < r.rate_10k
  GROUP BY t.{domain_col})"""
    if report:
        return f"""
WITH {core}
SELECT r.{domain_col}, r.n_docs, r.target_n,
       coalesce(s.sampled_n, 0) AS sampled_n
FROM rates2 r LEFT JOIN sampled s ON r.{domain_col} = s.{domain_col}
"""
    return f"WITH {core} SELECT * FROM sampled"


def _uniform01(col) -> Column:
    """Deterministic uniform in (0, 1]: first 13 md5 hex chars (52 bits —
    exactly representable in a double) of the value's string form, +1,
    over 2^52. Pure function of the value: identical on Spark, DuckDB,
    and across partitionings/retries."""
    h = F.conv(F.substring(F.md5(col.cast("string").cast("binary")), 1, 13),
               16, 10).cast("double")
    return (h + F.lit(1.0)) / F.lit(float(1 << 52))


def _uniform01_sql(expr: str) -> str:
    return (f"(CAST(concat('0x', substr(md5(CAST({expr} AS VARCHAR)), 1, 13))"
            f" AS BIGINT) + 1.0) / {float(1 << 52)!r}")


def weighted_sample(df: DataFrame, k: int, weight_col: str,
                    id_col: str = "doc_id",
                    group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Exactly-k weighted sampling WITHOUT replacement, per group —
    Efraimidis-Spirakis A-ES (2006): each row draws priority
    ``-ln(u) / w`` (u = deterministic uniform from the id, w = weight);
    the k SMALLEST priorities per group are a weighted sample without
    replacement. The hash-threshold samplers (``temperature_sample``)
    give each row an independent inclusion probability — binomial group
    sizes; A-ES is the tool when the contract is an exact per-group k
    with inclusion odds proportional to weight.

    Deterministic end to end (the uniform is a pure function of the id),
    so the sample is reproducible across runs, partitionings, and
    engines — no seed plumbing, no ``rand()``.

    Physical plan: priority is a scalar projection; per-group selection
    is ``topk.group_topk``'s single window, whose partial
    ``WindowGroupLimit`` keeps at most k rows per group per map task
    before the exchange, or TakeOrderedAndProject for the global case —
    never a full sort of the corpus.

    Rows with weight <= 0 or NULL are excluded (zero weight means
    "never sample"; the reference formula divides by w).
    Returns the sampled rows with their ``_priority`` (rounded, for the
    oracle hash) appended.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    w = F.col(weight_col).cast("double")
    pri = -F.log(_uniform01(F.col(id_col))) / w
    base = (df.filter(w.isNotNull() & (w > 0))
            .withColumn("_priority", pri))
    order = [F.asc("_priority"), F.asc(id_col)]
    if group_cols:
        out = group_topk(base, list(group_cols), order, k)
    else:
        out = base.orderBy(*order).limit(k)
    return out.withColumn("_priority", F.round("_priority", 6))


def weighted_sample_sql(table: str, k: int, weight_expr: str,
                        columns: str,
                        id_expr: str = "doc_id",
                        group_exprs: tuple[str, ...] = ()) -> str:
    """DuckDB twin of :func:`weighted_sample` (identical priority
    formula, identical tie-break, identical rounding)."""
    u = _uniform01_sql(id_expr)
    pri = f"(-ln({u}) / CAST({weight_expr} AS DOUBLE))"
    part = (f"PARTITION BY {', '.join(group_exprs)} " if group_exprs else "")
    return f"""
SELECT {columns}, round(_priority, 6) AS _priority FROM (
  SELECT *, {pri} AS _priority,
         row_number() OVER ({part}ORDER BY {pri}, {id_expr}) AS _rn
  FROM {table}
  WHERE {weight_expr} IS NOT NULL AND CAST({weight_expr} AS DOUBLE) > 0) _s
WHERE _rn <= {k}
"""
