"""DSIR-style importance-weighted data selection (hashed n-gram features).

Data Selection via Importance Resampling (Xie et al., NeurIPS 2023 —
public method): score every raw-corpus document by how much more likely
its hashed n-gram bag is under a TARGET distribution (a small
high-quality corpus) than under the RAW distribution, then keep the
top-weighted documents. This is the standard "make 100 TB of crawl look
like Wikipedia" selection step of an LLM training-data pipeline.

Spark-first shape (every stage is Catalyst, no Python in the hot path):

1. ``ngram_bucket_table`` — ONE pass over the corpus explodes word
   n-grams WITH multiplicity (``functions.text.ngram_bag`` — the bag
   itself, not its distinct ``shingles``: selection features are bags,
   not sets), hashes each gram into ``num_buckets`` buckets with the
   repo-wide portable md5 bucket (``operators.sampling.hash_bucket`` —
   the same construction the corpus split and the mixture sampler use,
   so the DuckDB twin is exact), and is localCheckpointed: three
   consumers (raw counts, target counts, per-doc weights) must not
   re-run the tokenizer per consumer (the split_contamination lesson).
2. ``dsir_log_ratios`` — per-bucket smoothed log importance weight
   λ_b = ln((ct_b+1)/(Ct+B)) − ln((cr_b+1)/(Cr+B)) over a FULL bucket
   spine (``spark.range(B)`` — buckets unseen in either corpus get the
   smoothing-only weight, so a probe document never hits a missing
   key). λ is quantized to integer MICROS (round(λ·1e6) as bigint)
   immediately: every downstream per-document weight is then an EXACT
   integer sum — cross-engine-stable where a per-document float sum
   (order-dependent) is not. The only doubles in the whole operator are
   the four ``ln`` calls per bucket, each on an exact integer argument.
   The B-row totals join is a 1-row-build broadcast nested loop
   (bounded — allowlisted in the plan sweep).
3. ``dsir_weights`` — grams join the broadcast B-row λ table and sum
   per document (map-side partial agg on doc_id); documents whose text
   is NULL keep a 0-gram / 0-weight row via the left join back to the
   corpus (a selector that silently drops unparseable docs corrupts the
   budget arithmetic).
4. ``dsir_select`` — top-``budget`` documents by
   (weight desc, id asc): ``orderBy().limit()`` so the physical plan is
   TakeOrderedAndProject — per-partition heaps + a budget-sized driver
   merge, never a global sort. At 100 TB the alternative top-fraction
   shapes (global row_number window = one partition; exact quantile
   threshold = full sort) both collapse; a fixed budget with the
   reference's own top-k physical strategy (operators/topk.py) does
   not.

Length bias is the paper's: a 2× longer document sums 2× the grams.
Callers who want a per-gram rate divide ``weight_micro / n_grams``
downstream; the selection contract here keeps the paper's bag sum.

No counterpart in the reference (SURVEY.md §2 extensions — the 544-LoC
surface has no corpus-selection operators of any kind).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import ngram_bag, ngram_bag_sql
from .sampling import hash_bucket, hash_bucket_sql

DEFAULT_BUCKETS = 4096  # divides 2^16: the md5-hex-prefix bucket is uniform
LAMBDA_SCALE = 1_000_000  # λ micros: int quantization, exact per-doc sums


def ngram_bucket_table(df: DataFrame, id_col: str, text_col: str,
                       is_target: Column, n: int = 2,
                       num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """(id, bucket, _t) — one row per gram OCCURRENCE, localCheckpointed
    (lazy: blocks self-release when the result is dropped) because three
    consumers read it. NULL and whitespace-only text explode to zero
    rows here (zero grams from ``ngram_bag`` and ``ngram_bag_sql`` since
    r10); the corpus left join in :func:`dsir_weights` restores those
    documents."""
    return (df.select(F.col(id_col), is_target.alias("_t"),
                      F.explode(ngram_bag(F.col(text_col), n))
                      .alias("_g"))
            .select(id_col, "_t",
                    hash_bucket(F.col("_g"), num_buckets).alias("_b"))
            .localCheckpoint(eager=False))


def dsir_log_ratios(grams: DataFrame,
                    num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """(bucket, lam_micro) over the FULL 0..B-1 spine. Smoothing is
    add-one over B buckets; totals enter via a 1-row broadcast (bounded
    build side). All four ``ln`` arguments are exact positive integers
    (< 2^53), so both engines see bit-identical doubles."""
    spark = grams.sparkSession
    raw = grams.groupBy("_b").agg(F.count("*").alias("_cr"))
    tgt = (grams.filter(F.col("_t"))
           .groupBy("_b").agg(F.count("*").alias("_ct")))
    totals = grams.agg(
        F.coalesce(F.sum(F.col("_t").cast("bigint")), F.lit(0))
        .alias("_tot_t"),
        F.count("*").alias("_tot_r"))
    spine = spark.range(num_buckets).select(F.col("id").alias("_b"))
    ct = F.coalesce(F.col("_ct"), F.lit(0))
    cr = F.coalesce(F.col("_cr"), F.lit(0))
    lam = (F.log(ct + 1.0) - F.log(F.col("_tot_t") + float(num_buckets))
           - F.log(cr + 1.0) + F.log(F.col("_tot_r") + float(num_buckets)))
    return (spine.join(tgt, "_b", "left").join(raw, "_b", "left")
            .crossJoin(F.broadcast(totals))
            .select("_b", F.round(lam * LAMBDA_SCALE, 0).cast("bigint")
                    .alias("_lam")))


def dsir_weights(df: DataFrame, id_col: str, text_col: str,
                 is_target: Column, n: int = 2,
                 num_buckets: int = DEFAULT_BUCKETS,
                 spine_df: DataFrame | None = None) -> DataFrame:
    """(id, n_grams, weight_micro) for EVERY corpus document (NULL-text
    docs carry 0/0). weight_micro is an exact bigint sum of per-bucket
    λ micros — engine-order-independent.

    ``spine_df`` (optional) supplies the relation for the restore-
    missing-docs left join's LEFT branch. It must hold exactly the same
    ``id_col`` set as ``df`` — the natural caller is one that lifted
    ``df`` to cluster parallelism for the tokenizer (a round-robin
    repartition): the lift is load-bearing for the gram explode but
    DEAD WEIGHT on the id spine, where it planned as an
    Exchange-on-Exchange (round-robin, then hash for the join — the
    r10-documented dsir_select blemish; a full extra shuffle of the ids
    at scale). Passing the unlifted source as the spine drops that
    round-robin exchange; the spine branch was already a separate
    column-pruned scan, so no new scan is introduced."""
    grams = ngram_bucket_table(df, id_col, text_col, is_target, n,
                               num_buckets)
    lam = dsir_log_ratios(grams, num_buckets)
    per_doc = (grams.join(F.broadcast(lam), "_b")
               .groupBy(id_col)
               .agg(F.count("*").alias("n_grams"),
                    F.sum("_lam").alias("weight_micro")))
    spine = (spine_df if spine_df is not None else df).select(id_col)
    return (spine.join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
                    F.coalesce(F.col("weight_micro"), F.lit(0))
                    .alias("weight_micro")))


def dsir_select(df: DataFrame, id_col: str, text_col: str,
                is_target: Column, budget: int, n: int = 2,
                num_buckets: int = DEFAULT_BUCKETS,
                spine_df: DataFrame | None = None) -> DataFrame:
    """Top-``budget`` documents by (weight_micro desc, id asc) —
    TakeOrderedAndProject, the scale-safe top-k physical strategy.
    ``spine_df``: see :func:`dsir_weights`."""
    w = dsir_weights(df, id_col, text_col, is_target, n, num_buckets,
                     spine_df=spine_df)
    return (w.orderBy(F.desc("weight_micro"), F.asc(id_col))
            .limit(budget))


def dsir_select_sql(table: str, id_col: str, text_col: str,
                    target_pred: str, budget: int, n: int = 2,
                    num_buckets: int = DEFAULT_BUCKETS) -> str:
    """DuckDB twin of :func:`dsir_select` — same tokenizer, same md5
    bucket, same smoothing, same λ-micro quantization, same ordering."""
    bag = ngram_bag_sql(text_col, n)
    b = hash_bucket_sql("_g", num_buckets)
    return f"""
WITH _grams AS (
  SELECT {id_col}, ({target_pred}) AS _t, unnest({bag}) AS _g FROM {table}
), _bg AS (
  SELECT {id_col}, _t, {b} AS _b FROM _grams
), _raw AS (
  SELECT _b, count(*) AS _cr FROM _bg GROUP BY _b
), _tgt AS (
  SELECT _b, count(*) AS _ct FROM _bg WHERE _t GROUP BY _b
), _tot AS (
  SELECT CAST(coalesce(sum(CASE WHEN _t THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS _tot_t,
         CAST(count(*) AS BIGINT) AS _tot_r
  FROM _bg
), _lam AS (
  SELECT _s._b,
         CAST(round((ln(coalesce(_ct, 0) + 1.0)
                     - ln(_tot_t + {num_buckets}.0)
                     - ln(coalesce(_cr, 0) + 1.0)
                     + ln(_tot_r + {num_buckets}.0)) * {LAMBDA_SCALE}, 0)
              AS BIGINT) AS _lam
  FROM (SELECT unnest(range({num_buckets})) AS _b) _s
  LEFT JOIN _tgt USING (_b) LEFT JOIN _raw USING (_b), _tot
), _w AS (
  SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(_lam) AS BIGINT) AS weight_micro
  FROM _bg JOIN _lam USING (_b) GROUP BY {id_col}
)
SELECT d.{id_col}, coalesce(w.n_grams, 0) AS n_grams,
       coalesce(w.weight_micro, 0) AS weight_micro
FROM {table} d LEFT JOIN _w w USING ({id_col})
ORDER BY weight_micro DESC, {id_col} ASC LIMIT {budget}
"""
