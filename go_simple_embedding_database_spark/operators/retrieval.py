"""Full-text retrieval and corpus-statistics document scoring.

Reference scope: the reference's only retrieval path is embed-the-query
then brute-force cosine (/root/reference/collection/collection.go:64-103).
Keyword retrieval (BM25) and corpus-frequency quality scoring are the
lexical complements a training-data pipeline runs next to it — BM25 for
"find the docs about X" curation queries, frequency scoring as a cheap
fluency / boilerplate signal (the mean corpus frequency of a document's
tokens separates natural prose from codes, hashes and gibberish).

Physical strategy (both operators):

- tokenisation is a pure Catalyst expression (split + filter), no Python;
- corpus statistics are tiny aggregates (one row of N/avgdl for BM25; a
  vocabulary relation for unigram scoring) attached by BROADCAST join —
  the corpus itself is scanned, never shuffled;
- BM25 candidate pruning happens scan-side: ``arrays_overlap`` against
  the literal term set keeps non-matching documents out of the explode,
  so the per-term fanout is proportional to matches, not corpus size;
- final top-k is ``orderBy().limit(k)`` = TakeOrderedAndProject (size-k
  heaps per partition, no global sort), same contract as operators.topk.

Cross-engine determinism: counts/lengths are exact integers; the single
``ln`` per (term, corpus) pair and the tf normalisation are evaluated on
identical double inputs and rounded to 6 decimals, the repo-wide oracle
convention for float columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from go_simple_embedding_database_spark.functions.text import (
    lower_x, lower_x_py, lower_x_sql, shingles, words, words_sql)

__all__ = ["bm25_topk", "bm25_topk_sql", "unigram_quality",
           "unigram_quality_sql", "ngram_novelty", "ngram_novelty_sql"]


def _norm_terms(terms: list[str]) -> list[str]:
    out = sorted({lower_x_py(t) for t in terms if t and t.strip()})
    if not out:
        raise ValueError("need at least one non-empty query term")
    return out


def bm25_topk(docs: DataFrame, terms: list[str], k: int,
              text_col: str = "text", id_col: str = "doc_id",
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Top-k documents for a bag-of-words query under BM25.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))   (always positive)
    score(d) = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Two scans of the corpus: a column-pruned stats pass (N, sum(dl) —
    map-side combined, one row out) and the candidate pass (scan-side
    ``arrays_overlap`` filter, then explode ONLY the matching tokens of
    matching docs). df(t) is computed from the candidate pass itself.
    At 100 TB the repeated-query path is a persisted inverted index (the
    containment operator's build, dedup.py); this is the ad-hoc path.

    Returns (id_col, score) — up to k rows (fewer when fewer than k
    documents contain any query term; only matching docs are scored),
    ties broken by id.
    """
    tlist = _norm_terms(terms)
    terms_lit = F.array(*[F.lit(t) for t in tlist])
    toks = docs.select(F.col(id_col),
                       words(lower_x(F.col(text_col))).alias("_w"))
    stats = toks.agg(F.count("*").alias("_n_docs"),
                     F.sum(F.size("_w")).alias("_sum_dl"))

    cand = (toks.filter(F.arrays_overlap(F.col("_w"), terms_lit))
            .select(id_col, F.size("_w").alias("_dl"),
                    F.explode(F.filter(
                        "_w", lambda w: F.array_contains(terms_lit, w)))
                    .alias("_t")))
    tf = cand.groupBy(id_col, "_t").agg(F.count("*").alias("_tf"),
                                        F.first("_dl").alias("_dl"))
    df_t = tf.groupBy("_t").agg(F.count("*").alias("_df"))

    scored = (tf.join(F.broadcast(df_t), "_t")
              .crossJoin(F.broadcast(stats)))
    avgdl = F.col("_sum_dl").cast("double") / F.col("_n_docs").cast("double")
    idf = F.log(F.lit(1.0) +
                (F.col("_n_docs") - F.col("_df") + F.lit(0.5)) /
                (F.col("_df") + F.lit(0.5)))
    tfd = F.col("_tf").cast("double")
    denom = tfd + F.lit(k1) * (F.lit(1.0 - b) +
                               F.lit(b) * F.col("_dl").cast("double") / avgdl)
    per_term = idf * tfd * F.lit(k1 + 1.0) / denom
    return (scored.groupBy(id_col)
            .agg(F.round(F.sum(per_term), 6).alias("score"))
            .orderBy(F.desc("score"), F.asc(id_col)).limit(k))


def bm25_topk_sql(table: str, terms: list[str], k: int,
                  text_col: str = "text", id_col: str = "doc_id",
                  k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB twin of :func:`bm25_topk` (identical recipe, same rounding)."""
    tlist = _norm_terms(terms)
    terms_sql = "[" + ", ".join(f"'{t}'" for t in tlist) + "]"
    w = words_sql(lower_x_sql(text_col))
    return f"""
WITH toks AS (
  SELECT {id_col}, {w} AS _w FROM {table}),
stats AS (
  SELECT count(*) AS _n_docs, sum(len(_w)) AS _sum_dl FROM toks),
cand AS (
  SELECT {id_col}, len(_w) AS _dl,
         unnest(list_filter(_w, x -> list_contains({terms_sql}, x))) AS _t
  FROM toks
  WHERE len(list_filter(_w, x -> list_contains({terms_sql}, x))) > 0),
tf AS (
  SELECT {id_col}, _t, count(*) AS _tf, first(_dl) AS _dl
  FROM cand GROUP BY {id_col}, _t),
df_t AS (
  SELECT _t, count(*) AS _df FROM tf GROUP BY _t)
SELECT {id_col},
       round(sum(
         ln(1.0 + (_n_docs - _df + 0.5) / (_df + 0.5))
         * CAST(_tf AS DOUBLE) * {k1 + 1.0}
         / (CAST(_tf AS DOUBLE)
            + {k1} * ({1.0 - b} + {b} * CAST(_dl AS DOUBLE)
                      / (CAST(_sum_dl AS DOUBLE) / CAST(_n_docs AS DOUBLE))))
       ), 6) AS score
FROM tf JOIN df_t USING (_t) CROSS JOIN stats
GROUP BY {id_col}
ORDER BY score DESC, {id_col} LIMIT {k}
"""


def unigram_quality(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    broadcast_vocab: bool = True) -> DataFrame:
    """Mean corpus frequency of a document's tokens — a unigram-LM
    fluency proxy that needs no model: natural text is built from common
    words, while serial numbers, hashes and mojibake score near 1.

    score(d) = (sum_i C(w_i)) / |d| where C(w) is the corpus-wide token
    count. Exact integers until one final division, so cross-engine
    byte-equality is structural, not luck.

    Scale shape: one explode + hash agg builds the vocabulary, attached
    back onto the exploded tokens, one per-doc agg. The token explode
    happens once; no shuffle carries text. Empty documents score 0 (not
    NULL) so downstream filters can treat the column as total.

    ``broadcast_vocab``: the vocabulary is Zipf-small relative to the
    corpus but its ABSOLUTE distinct-token count at 100 TB (serial
    numbers, hashes — the very garbage this score exists to flag) can
    blow the broadcast limit; pass ``False`` there to use a shuffle hash
    join on the token key instead (one extra exchange of the token
    stream, no driver/executor memory ceiling).

    Returns (id_col, n_tokens, mean_tok_freq).
    """
    toks = docs.select(F.col(id_col),
                       F.explode(words(lower_x(F.col(text_col)))).alias("_t"))
    vocab = toks.groupBy("_t").agg(F.count("*").alias("_c"))
    vrel = F.broadcast(vocab) if broadcast_vocab else vocab
    per_doc = (toks.join(vrel, "_t")
               .groupBy(id_col)
               .agg(F.count("*").alias("n_tokens"),
                    F.sum("_c").alias("_sc")))
    score = F.round(F.col("_sc").cast("double") /
                    F.col("n_tokens").cast("double"), 6)
    return (docs.select(id_col).join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                    F.coalesce(score, F.lit(0.0)).alias("mean_tok_freq")))


def unigram_quality_sql(table: str, text_col: str = "text",
                        id_col: str = "doc_id") -> str:
    w = words_sql(lower_x_sql(text_col))
    return f"""
WITH toks AS (
  SELECT {id_col}, unnest({w}) AS _t FROM {table}),
vocab AS (
  SELECT _t, count(*) AS _c FROM toks GROUP BY _t),
per_doc AS (
  SELECT {id_col}, count(*) AS n_tokens, sum(_c) AS _sc
  FROM toks JOIN vocab USING (_t) GROUP BY {id_col})
SELECT d.{id_col},
       coalesce(p.n_tokens, 0) AS n_tokens,
       coalesce(round(CAST(p._sc AS DOUBLE) / CAST(p.n_tokens AS DOUBLE), 6),
                0.0) AS mean_tok_freq
FROM (SELECT {id_col} FROM {table}) d
LEFT JOIN per_doc p USING ({id_col})
"""


def ngram_novelty(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's distinct
    word n-gram shingles whose FIRST corpus occurrence (minimum id over
    the documents containing the gram) is this document — a diversity /
    marginal-contribution signal for curriculum ordering and dedup-aware
    sampling (a doc of novelty 0 adds no gram the ids before it lack;
    boilerplate scores near 0, fresh content near 1). Complements the
    pairwise dedup family with a per-DOC score that needs no threshold.
    No counterpart in the 544-LoC reference (SURVEY.md §2 extensions).

    Scale shape (100 TB): explode distinct shingles ONCE (the exact
    recipe MinHash/Jaccard/containment share — one tokenizer definition)
    and materialize the gram stream (lazy localCheckpoint, the
    containment_pairs pattern): two consumers read it — the min-id
    aggregation and the attribution join — and without the checkpoint
    each would re-run the tokenizer explode, the operator's dominant
    CPU. The aggregation exchanges the gram stream once (min is
    map-side combinable, so the exchange carries one row per distinct
    gram per partition, not the raw stream); the join's gram->first
    build side is vocabulary-sized — Zipf-small, broadcast below the
    threshold, one more gram-keyed exchange above it. The final per-doc
    aggregate exchanges slim (id, counts) rows. Nothing all-pairs, no
    windows over the corpus, no driver materialization. Gram attribution
    is deterministic (min id), so the score is stable under
    re-partitioning. Checkpoint blocks release when the returned
    DataFrame is garbage-collected (same caching contract as
    containment_pairs).

    Returns (id_col, n_grams, novelty) — novelty rounded to 6 decimals
    for cross-engine hash parity.
    """
    # Empty / whitespace-only / NULL docs explode to zero grams (the
    # shingles degenerate-document convention), so they get NO novelty
    # row in either engine — novelty of nothing is undefined, not 1.0.
    # No gram is '' (words() never yields an empty token); the filter
    # stays for the NOT NULL it implies on _g, without which Catalyst
    # adds an isnotnull Filter on each read of the checkpoint.
    grams = (docs.select(F.col(id_col).alias("_id"),
                         F.explode(shingles(F.col(text_col), n))
                         .alias("_g"))
             .filter(F.col("_g") != "")
             .localCheckpoint(eager=False))
    first = grams.groupBy("_g").agg(F.min("_id").alias("_first"))
    return (grams.join(first, "_g")
            .groupBy("_id")
            .agg(F.count("*").alias("n_grams"),
                 F.sum((F.col("_first") == F.col("_id")).cast("bigint"))
                 .alias("_novel"))
            .select(F.col("_id").alias(id_col), "n_grams",
                    F.round(F.col("_novel").cast("double")
                            / F.col("n_grams"), 6).alias("novelty")))


def ngram_novelty_sql(table: str = "documents", text_expr: str = "text",
                      id_expr: str = "doc_id", n: int = 3) -> str:
    """DuckDB twin of ``ngram_novelty`` — identical gram recipe
    (``shingles_sql``), identical min-id attribution, identical ratio."""
    from go_simple_embedding_database_spark.functions.text import shingles_sql

    sh = shingles_sql(text_expr, n)
    return f"""
WITH grams AS (
  SELECT {id_expr} AS _id, unnest({sh}) AS _g FROM {table}),
first AS (
  SELECT _g, min(_id) AS _first FROM grams GROUP BY _g)
SELECT _id AS {id_expr}, count(*) AS n_grams,
       round(CAST(sum(CASE WHEN _first = _id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS novelty
FROM grams JOIN first USING (_g)
GROUP BY _id
"""
