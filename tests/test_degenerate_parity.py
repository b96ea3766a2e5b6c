"""End-to-end proof of the r10 degenerate-document class closure: plant
a blank doc and a NULL-text doc into the sf0.001 corpus and run every
TEXT-SURFACE gate query Spark-vs-DuckDB on the poisoned corpus.

The primitive-level pins (tests/test_text.py) prove each twin triple
agrees on the edge in isolation; this module proves the agreement
SURVIVES COMPOSITION through the real query plans — explodes, banded
joins, window functions, left-join restores — which is where the r08
ngram_bag phantom-[NULL] bug and the winnow oracle crash actually
lived. NULLCHECK (tools/null_probe.py) only checks crash-freedom on a
fully poisoned corpus; this is the stronger VALUE-parity check on the
one poison class the round closed.
"""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

# The queries whose results flow through the shared tokenizer family
# (words/ngram_bag/shingles/doc_fingerprint/winnow) or the
# text-analysis scalars. Index-materializing and non-text queries are
# covered by their own parity tests on the clean corpus.
TEXT_SURFACE = [
    "dsir_select", "span_dedup", "text_repetition", "text_stats",
    "text_quality", "text_language_id", "text_chunks", "dedup_exact",
    "dedup_keep", "dedup_prefix", "dedup_minhash", "dedup_jaccard",
    "dedup_containment", "dedup_simhash", "dedup_simhash_pairs",
    "dedup_winnow", "dedup_clusters", "split_leakage_safe",
    "split_contamination", "ngram_novelty", "ngram_vocab",
    "frequent_tokens", "quality_unigram", "pipeline_clean_corpus",
    "token_budget", "udtf_chunks", "pii_scrub", "source_length_stats",
    "bm25_search", "tfidf_top_terms",
]

_SRC = "/root/testdata/sf0.001"
_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def poisoned_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("degen_corpus")
    for t in _TABLES:
        if t == "documents":
            base = spark.read.parquet(f"{_SRC}/documents.parquet")
            planted = spark.createDataFrame(
                [(9_000_000_001, "   \t\n  ", "en", "degenerate"),
                 (9_000_000_002, None, "en", "degenerate")],
                "doc_id long, text string, lang string, source string"
            ).withColumn("n_chars", F.length("text").cast("long"))
            base.unionByName(planted).repartition(2) \
                .write.mode("overwrite").parquet(f"{d}/documents.parquet")
        else:
            spark.read.parquet(f"{_SRC}/{t}.parquet") \
                .write.mode("overwrite").parquet(f"{d}/{t}.parquet")
    return str(d)


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    return v


@pytest.mark.parametrize("name", TEXT_SURFACE)
def test_text_query_parity_survives_degenerate_docs(spark, poisoned_dir,
                                                    name):
    con = duckdb.connect()
    for t in _TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{poisoned_dir}/{t}.parquet/*.parquet')")
    sdf = entry_mod.queries()[name](spark, poisoned_dir)
    # NULL-bearing rows don't sort under Python's < — key on repr
    got = sorted((tuple(_norm(v) for v in r) for r in sdf.collect()),
                 key=repr)
    res = con.sql(entry_mod.oracle_sql()[name])
    want = sorted((tuple(_norm(v) for v in r) for r in res.fetchall()),
                  key=repr)
    assert got == want, (name, [r for r in got if r not in want][:3],
                         [r for r in want if r not in got][:3])
    assert got, f"{name}: zero rows on the poisoned corpus — vacuous"
