"""Text-analysis functions: semantics + DuckDB-twin exactness."""

import duckdb
import pytest
from pyspark.sql import functions as F

from go_simple_embedding_database_spark.functions import text as tx


def test_language_id_basics(spark):
    df = spark.createDataFrame([
        ("the cat and the dog is in it",),      # en
        ("der hund ist nicht das problem und",), # de
        ("el perro y la casa de que en un",),    # es
        ("le chat et les maisons dans une pour",),# fr
        ("xyzzy qwerty plugh",),                 # no stopwords anywhere
    ], "text string")
    out = [r.lang for r in df.select(tx.language_id(F.col("text")).alias("lang")).collect()]
    assert out == ["en", "de", "es", "fr", "und"]


def test_language_id_detects_unsegmented_chinese(spark):
    """Chinese has no word separators, so zh stopword hits are counted as
    character occurrences — token-boundary matching would never fire and
    every Chinese document would come back 'und'. The DuckDB twin must
    agree on the same counts."""
    zh = "我是中国人这是不对的我有和人说过"
    df = spark.createDataFrame([(zh,), ("the cat and the dog",)], "text string")
    out = [r.lang for r in df.select(tx.language_id(F.col("text")).alias("lang")).collect()]
    assert out == ["zh", "en"]
    got_duck = duckdb.sql(
        f"SELECT {tx.language_id_sql('t')} FROM (SELECT '{zh}' AS t)"
    ).fetchone()[0]
    assert got_duck == "zh"


def test_stopword_hits_regex_equals_token_equality(spark):
    """The regexp_count formulation must count exactly the whitespace-split
    tokens equal to a stopword: punctuation-attached words don't count,
    adjacent stopwords each count, multiplicity counts."""
    cases = [
        ("the the the", 3),          # adjacency: consumed \s can't starve
        ("the, cat the.", 0),        # 'the,' / 'the.' are not tokens 'the'
        ("  the\tand\nof  ", 3),     # any whitespace kind, leading/trailing
        ("other therefore bathe", 0),# substrings never match full tokens
        ("THE AND", 2),              # lower() applied first
        ("", 0),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "text string")
    out = [r.n for r in df.select(
        tx.stopword_hits(F.col("text"), "en").alias("n")).collect()]
    assert out == [n for _, n in cases]


def test_token_count(spark):
    df = spark.createDataFrame([("ab 12 c! d,e",)], "text string")
    # tokens: ab, 12, c, !, d, ',', e
    assert df.select(tx.token_count(F.col("text")).alias("n")).collect()[0].n == 7


def test_word_count_handles_multispace(spark):
    df = spark.createDataFrame([("a  b   c",), ("",)], "text string")
    out = [r.n for r in df.select(tx.word_count(F.col("text")).alias("n")).collect()]
    assert out == [3, 0]


def test_quality_score_orders_text(spark):
    good = "the quick brown fox jumps over the lazy dog and it is fine"
    bad = "000 111 222 333 !!! ??? ,,, 999 888 777"
    df = spark.createDataFrame([(good,), (bad,)], "text string")
    rows = df.select("text", tx.quality_score(F.col("text")).alias("q")).collect()
    scores = {r.text: r.q for r in rows}
    assert scores[good] > scores[bad]


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    out = [sorted(r.s) for r in df.select(tx.shingles(F.col("text"), 3).alias("s")).collect()]
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == ["a b"]  # shorter than n → the full word sequence


def test_fingerprint_stable_and_discriminative(spark):
    df = spark.createDataFrame([("the quick brown fox jumps",),
                                ("the quick brown fox jumps",),
                                ("an entirely different sentence here",)], "text string")
    fps = [r.fp for r in df.select(tx.doc_fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]


def test_chunk_text(spark):
    df = spark.createDataFrame([("abcdefghij",), ("ab",), ("",)], "text string")
    out = [r.c for r in df.select(tx.chunk_text(F.col("text"), 4).alias("c")).collect()]
    assert out[0] == ["abcd", "efgh", "ij"]
    assert out[1] == ["ab"]
    assert out[2] == [""]          # empty text -> one empty chunk
    # round-trip: chunks reassemble the document
    joined = df.select(F.concat_ws("", tx.chunk_text(F.col("text"), 4)).alias("j"),
                       "text").collect()
    assert all(r.j == r.text for r in joined)


@pytest.mark.parametrize("fn,sql_fn", [
    (tx.language_id, tx.language_id_sql),
    (tx.token_count, tx.token_count_sql),
    (tx.word_count, tx.word_count_sql),
    (tx.doc_fingerprint, tx.doc_fingerprint_sql),
])
def test_duckdb_twins_match(spark, documents, sf_dir, fn, sql_fn):
    """Every *_sql builder must reproduce the Spark value on real data."""
    got_spark = {
        r.doc_id: r.v
        for r in documents.select("doc_id", fn(F.col("text")).alias("v")).collect()
    }
    con = duckdb.connect()
    got_duck = dict(con.sql(
        f"SELECT doc_id, {sql_fn('text')} AS v FROM '{sf_dir}/documents.parquet'"
    ).fetchall())
    assert got_spark == got_duck


def test_quality_sql_twin_matches(spark, documents, sf_dir):
    feats = tx.quality_sql("text")
    got_spark = {
        r.doc_id: round(r.q, 6)
        for r in documents.select(
            "doc_id", tx.quality_score(F.col("text")).alias("q")).collect()
    }
    con = duckdb.connect()
    got_duck = {
        k: round(v, 6) for k, v in con.sql(
            f"SELECT doc_id, {feats['quality_score']} AS q FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    }
    assert got_spark == got_duck


# -- round-2: repetition + PII scrub -------------------------------------------


def test_repetition_features_values(spark):
    df = spark.createDataFrame([
        ("a a a a",),            # 4 words, 1 distinct -> dup_word 0.75
        ("a b c d",),            # all distinct -> 0.0
        ("a b a b a b",),        # 2-grams: 5 total {a b, b a} -> dup 0.6
        ("",),                   # empty: safe denominators, all zeros
    ], "text string")
    f = tx.repetition_features(F.col("text"))
    rows = df.select(
        f["n_words"].alias("n"),
        F.round(f["dup_word_frac"], 6).alias("dw"),
        F.round(f["dup_2gram_frac"], 6).alias("d2"),
    ).collect()
    assert (rows[0].n, rows[0].dw) == (4, 0.75)
    assert rows[1].dw == 0.0 and rows[1].d2 == 0.0
    assert rows[2].d2 == 0.6
    assert (rows[3].n, rows[3].dw, rows[3].d2) == (0, 0.0, 0.0)


def test_repetition_matches_duckdb(spark, documents):
    sql = tx.repetition_sql("text")
    got = {r.doc_id: (r.n, round(r.d3, 6)) for r in documents.select(
        "doc_id", tx.repetition_features(F.col("text"))["n_words"].alias("n"),
        F.round(tx.repetition_features(F.col("text"))["dup_3gram_frac"], 6).alias("d3"),
    ).collect()}
    con = duckdb.connect()
    from tests.conftest import SF_DIR
    exp = {r[0]: (r[1], round(r[2], 6)) for r in con.sql(
        f"SELECT doc_id, {sql['n_words']}, {sql['dup_3gram_frac']} "
        f"FROM '{SF_DIR}/documents.parquet'").fetchall()}
    assert got == exp


def test_pii_scrub_replaces_and_counts(spark):
    df = spark.createDataFrame([
        ("mail bob.smith+x@corp.example.org now",),
        ("server at 192.168.0.1 and 10.0.0.255.",),
        ("call +1 (555) 010-1234 today",),
        ("versions 1.2.3 and 1.2.3.4.5 stay, v2 stays",),
        ("no pii here",),
    ], "text string")
    c = tx.pii_counts(F.col("text"))
    rows = df.select(
        tx.pii_scrub(F.col("text")).alias("s"),
        c["n_email"].alias("e"), c["n_ipv4"].alias("i"), c["n_phone"].alias("p"),
    ).collect()
    assert rows[0].s == "mail <EMAIL> now" and rows[0].e == 1
    assert rows[1].s == "server at <IP> and <IP>." and rows[1].i == 2
    assert rows[2].s == "call <PHONE> today" and rows[2].p == 1
    # dotted version strings: 1.2.3 has 3 octets (no match); 1.2.3.4.5
    # contains a 4-octet run — RE2/Java agree it matches; pin the behavior
    assert rows[3].e == 0 and rows[3].p == 0
    assert rows[4].s == "no pii here"


def test_pii_scrub_matches_duckdb(spark):
    texts = [
        "mail bob.smith+x@corp.example.org now",
        "server at 192.168.0.1 and 10.0.0.255.",
        "call +1 (555) 010-1234 today",
        "a@b.co c@d.io back to back",
        "edge +12 345 678 90 and 0.0.0.0",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r.s for r in df.select(tx.pii_scrub(F.col("text")).alias("s")).collect()]
    con = duckdb.connect()
    exp = [con.execute(
        f"SELECT {tx.pii_scrub_sql('t')} FROM (SELECT ? AS t)", [t]
    ).fetchone()[0] for t in texts]
    assert got == exp


def test_phone_scrub_does_not_eat_trailing_numbers(spark):
    from go_simple_embedding_database_spark.functions.text import pii_scrub
    df = spark.createDataFrame(
        [("call +1 555 0100 4 GB of RAM",),
         ("+44 20 7946 0958 in 2024",),
         ("reach me at +1 (555) 010-0100 now",),
         ("price +3 dollars stays",),
         # total-digit floor: short numeric runs after '+' are not phones
         ("scores +1 23 45 stay put",),
         ("+1 5550100 compact form",)], "t string")
    got = [r.s for r in df.select(pii_scrub(F.col("t")).alias("s")).collect()]
    assert got == ["call <PHONE> 4 GB of RAM",
                   "<PHONE> in 2024",
                   "reach me at <PHONE> now",
                   "price +3 dollars stays",
                   "scores +1 23 45 stay put",
                   "<PHONE> compact form"]


def test_words_and_lower_are_engine_stable_on_unicode(spark):
    """The two regex/casing divergences tools/unicode_probe.py found must
    stay closed: (1) vertical tab is whitespace in Java's \\s but not
    RE2's — WS_CHARS makes the split identical; (2) JDK lower() applies
    Unicode special casing (Turkish İ, Greek final sigma) while DuckDB's
    is simple 1:1 — lower_x pre-substitutes the two special cases. Both
    primitives are compared against their SQL twins ON the adversarial
    inputs, and must stay byte-identical on ASCII."""
    con = duckdb.connect()
    cases = ["vertical\x0btab bell\x07", "İstanbul IŞIK ΔΙΟΣ ΑΣ",
             "plain ascii text 42!", "tab\there\nnewline",
             "春眠不覚暁 処処聞啼鳥", "family 👨‍👩‍👧‍👦 ok"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)],
                               "i int, t string")
    got = {r.i: (list(r.w), r.low) for r in df.select(
        "i", tx.words(F.col("t")).alias("w"),
        tx.lower_x(F.col("t")).alias("low")).collect()}
    for i, t in enumerate(cases):
        w_sql, low_sql = con.execute(
            f"SELECT {tx.words_sql('?')}, {tx.lower_x_sql('?')}",
            [t, t]).fetchone()
        assert got[i] == (w_sql, low_sql), (i, t, got[i], (w_sql, low_sql))
    # ASCII invariance: lower_x == plain lower, words == \s+ split
    assert got[2][1] == cases[2].lower()
    assert got[2][0] == cases[2].lower().split()  # no casing in tokens


def test_shingles_degenerate_document_convention(spark):
    """r10 whole-class closure: the blank/NULL-document convention is
    uniform across shingles' three twins (each the distinct of its
    ngram_bag twin, pinned by test_ngram_bag_blank_document_convention;
    doc_fingerprint and the repetition fractions inherit it): NULL text
    → NULL (Column/SQL twins), blank text → ZERO shingles. Through r09
    the Catalyst/Python twins emitted [''] while DuckDB's
    list_distinct dropped the NULL-stringified empty slice — the same
    latent divergence class as ngram_bag's, found by auditing every
    array-producing text twin on degenerate inputs. The py kernel maps
    None→[] by documented kernel convention (no NULL arrays inside an
    Arrow batch)."""
    import duckdb

    cases = [("   \t\n ", []), ("", []), (None, None),
             ("one two", ["one two"]),
             ("a b c d", ["a b c", "b c d"])]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i int, t string")
    got = {r.i: (list(r.g) if r.g is not None else None)
           for r in df.select("i", tx.shingles(F.col("t")).alias("g"))
           .collect()}
    con = duckdb.connect()
    sql_expr = tx.shingles_sql("?")
    for i, (t, want) in enumerate(cases):
        sql = con.execute(f"SELECT {sql_expr}",
                          [t] * sql_expr.count("?")).fetchone()[0]
        assert got[i] == want, (t, got[i], want)
        assert (sorted(sql) if sql is not None else None) == \
               (sorted(want) if want is not None else None), (t, sql, want)
        py = tx.shingles_py(t)
        assert py == (want if want is not None else []), (t, py)
    # doc_fingerprint: blank/NULL → NULL on both engines
    fp = {r.i: r.fp for r in
          df.select("i", tx.doc_fingerprint(F.col("t")).alias("fp"))
          .collect()}
    fp_sql = tx.doc_fingerprint_sql("?")
    for i, (t, _) in enumerate(cases):
        s = con.execute(f"SELECT {fp_sql}",
                        [t] * fp_sql.count("?")).fetchone()[0]
        assert fp[i] == s, (t, fp[i], s)
    assert fp[0] is None and fp[1] is None and fp[2] is None
    # repetition fractions: blank → 0.0, NULL → NULL, both engines
    reps = tx.repetition_features(F.col("t"))
    rr = {r.i: (r.d2, r.d3) for r in df.select(
        "i", reps["dup_2gram_frac"].alias("d2"),
        reps["dup_3gram_frac"].alias("d3")).collect()}
    rsql = tx.repetition_sql("?")
    for i, (t, _) in enumerate(cases):
        q = (f"SELECT {rsql['dup_2gram_frac']} AS d2, "
             f"{rsql['dup_3gram_frac']} AS d3")
        nq = q.count("?")
        s2, s3 = con.execute(q, [t] * nq).fetchone()
        assert rr[i] == (s2, s3), (t, rr[i], (s2, s3))
    assert rr[0] == (0.0, 0.0) and rr[2] == (None, None)
    # winnow fingerprints share the convention — and the DuckDB twin
    # used to CRASH here (concat('0x', md5(NULL)) = '0x' -> cast error)
    # rather than merely diverge, so this arm is also the regression pin
    # for the oracle's degenerate-doc guards
    from go_simple_embedding_database_spark.operators import dedup as dd
    wn = {r.i: (sorted(r.g) if r.g is not None else None) for r in
          df.select("i", dd.winnow_fingerprints(F.col("t")).alias("g"))
          .collect()}
    wn_sql = dd.winnow_fingerprints_sql("?")
    for i, (t, _) in enumerate(cases):
        s = con.execute(f"SELECT {wn_sql}",
                        [t] * wn_sql.count("?")).fetchone()[0]
        assert wn[i] == (sorted(s) if s is not None else None), (t, wn[i], s)
    assert wn[0] == [] and wn[1] == [] and wn[2] is None


def test_ngram_bag_blank_document_convention(spark):
    """r10 fix landed: whitespace-only (and empty) non-NULL documents
    emit ZERO grams under ALL THREE twins — blank docs join NULL docs at
    DSIR's neutral prior instead of carrying a phantom '' feature.
    History: through r09 the Catalyst/Python twins emitted ``['']`` here
    while the DuckDB twin emitted ``[NULL]`` (the latent hash divergence
    this test pinned, found disproving the r08 ADVICE's "all three twins
    agree"); the r10 guard makes the edge uniform. This test now pins
    the AGREEMENT on every edge: blank, empty, NULL, short, normal."""
    import duckdb

    from go_simple_embedding_database_spark.functions.text import (
        ngram_bag, ngram_bag_py, ngram_bag_sql)

    cases = [("   \t\n ", []), ("", []), (None, None),
             ("one", ["one"]), ("two words here",
                                ["two words", "words here"])]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i int, t string")
    got = {r.i: (list(r.g) if r.g is not None else None)
           for r in df.select("i", ngram_bag(F.col("t")).alias("g"))
           .collect()}
    con = duckdb.connect()
    sql_expr = ngram_bag_sql("?")
    for i, (t, want) in enumerate(cases):
        py = ngram_bag_py(t)
        sql = con.execute(f"SELECT {sql_expr}",
                          [t] * sql_expr.count("?")).fetchone()[0]
        assert got[i] == py == want, (t, got[i], py, want)
        # all THREE twins agree on every edge, blank docs included
        assert sql == want, (t, sql, want)
    # context for the gate: the corpora hold zero blank/NULL docs, so
    # this edge never reaches the official gate either way. The glob
    # must be NON-EMPTY (ADVICE r09: an absent testdata dir would have
    # passed this guard vacuously).
    import glob
    sfs = sorted(glob.glob("/root/testdata/sf*"))
    assert sfs, "testdata dirs missing — blank-doc guard would be vacuous"
    for sf in sfs:
        n = con.sql(
            f"SELECT count(*) FROM '{sf}/documents.parquet' WHERE text IS "
            "NULL OR len(regexp_replace(text, '\\s+', '', 'g')) = 0"
        ).fetchone()[0]
        assert n == 0, (sf, n)


# ---- tokenizer parity with the Python twins ------------------------------

# The adversarial parity corpus for the tokenizers: every class the
# unicode/degenerate audits ever forked an engine on — the WS_CHARS
# vertical tab, Turkish İ and Greek final-sigma casing, spaceless CJK,
# blank/NULL/short documents, repeated grams, punctuation tokens, mixed
# scripts, combining marks, astral-plane emoji, NBSP (NOT whitespace to
# either twin), and CR/LF/FF runs.
TEXT_KERNEL_PARITY_CASES = [
    None, "", "   \t\n ", "one", "one two", "one two three",
    "a b c d e f g", "a a a a a", "x\x0by z w", "line1\r\nline2\fline3",
    "İstanbul İZMİR i̇stanbul", "ΣΟΦΟΣ ΣΟΦΟΣ σοφος", "的是了在我 有和人",
    "word glued but real space", "naïve café déjà-vu",
    "étude étude accent", "🎉 emoji 🎉 emoji twice",
    "Mixed 的 scripts και numbers 42 42",
    "punct, punct; punct! ?", "  lead and trail  ",
    "the quick brown fox jumps over the lazy dog the quick brown fox",
]


def test_text_kernel_twins_match_catalyst_exactly(spark):
    """The Catalyst tokenizers (shingles/ngram_bag) must equal
    their Python twins (shingles_py/ngram_bag_py) — same values, same
    order — on the full adversarial corpus: the MinHash/SimHash signature
    UDFs hash ``shingles_py`` output, so any fork here would split the
    signature from every Catalyst consumer of the same shingles. NULL
    documents stay NULL on the Catalyst side (``shingles_py`` maps them
    to the empty list inside an Arrow batch)."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXT_KERNEL_PARITY_CASES)],
        "i int, t string")

    def grab(col):
        return {r.i: (list(r.g) if r.g is not None else None)
                for r in df.select("i", col.alias("g")).collect()}

    for expr, py, ns in (
            (tx.shingles, tx.shingles_py, (1, 2, 3, 5)),
            (tx.ngram_bag, tx.ngram_bag_py, (1, 2, 3, 5))):
        for n in ns:
            want = {i: None if t is None else py(t, n)
                    for i, t in enumerate(TEXT_KERNEL_PARITY_CASES)}
            assert grab(expr(F.col("t"), n)) == want, (expr.__name__, n)
