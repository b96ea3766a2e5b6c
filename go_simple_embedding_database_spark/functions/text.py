"""Text-analysis columns for LLM training-data pipelines.

All operators here are pure Catalyst expressions (split / regexp /
array_intersect / higher-order functions) — they whole-stage-codegen and
scan-scale linearly; nothing crosses into Python. Each has an exact DuckDB
SQL twin used by the driver oracle (builders suffixed ``_sql``).

These extend the reference's capability surface (SURVEY §2.6 lists no text
functions beyond pretty-print truncation, records/records.go:57-79) toward
the 100 TB training-data use case: language ID, quality scoring, token
counting, fingerprinting over the ``documents`` table.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists — a deliberately simple n-gram/stopword
# heuristic (fastText-style lang-id needs a model; this is the in-engine
# fallback). Ordered dict: ties resolve to the first language listed.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "you", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ich", "ein", "zu", "mit"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "para"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "dans", "pour"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "人", "这", "不"],
}

# Cross-engine whitespace class. ``\s`` is NOT dialect-stable: Java's is
# [ \t\n\x0B\f\r] while RE2's (DuckDB) lacks \x0B — one vertical-tab byte
# in a document forked the tokenization of every downstream operator
# between the engines (found by tools/unicode_probe.py). Both dialects
# parse this explicit class identically (\x0B is a hex escape in each);
# it equals Java ``\s`` and Python ASCII ``\s``, so the Spark-side and
# Python-twin semantics are unchanged — only the RE2 side gains \x0B.
WS_CHARS = r" \t\n\r\f\x0B"

# BPE-ish tokenizer regex: letter runs | digit runs | single non-space
# symbol. Same dialect in Java regex (Spark) and RE2-ish (DuckDB).
TOKEN_REGEX = rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CHARS}]"

# Cross-engine lower(). JDK toLowerCase applies Unicode SpecialCasing —
# İ (U+0130) → "i" + combining dot, and the context-dependent final
# sigma (Σ at word end → ς) — while DuckDB's utf8proc applies simple
# 1:1 mappings, so lower() forks the engines on Turkish or Greek text
# (found by tools/unicode_probe.py). Pre-substituting the only two
# unconditional-or-contextual lowercase special cases makes the
# remaining input simple-mapping-only, where the engines agree. ASCII
# text is untouched, so gate results are byte-identical.
_LOWER_PRE = [("İ", "i̇"),   # İ -> i + COMBINING DOT ABOVE
              ("Σ", "σ")]    # Σ -> σ (never the final form)


def lower_x(text: Column) -> Column:
    """Engine-stable lowercase (see _LOWER_PRE). Use this, not F.lower,
    wherever the result feeds a cross-engine-hashed operator. Literal
    ``F.replace`` (a memcmp scan), not ``regexp_replace`` — this sits on
    the hot tokenization path of every text operator."""
    for src, dst in _LOWER_PRE:
        text = F.replace(text, F.lit(src), F.lit(dst))
    return F.lower(text)


def lower_x_sql(expr: str) -> str:
    for src, dst in _LOWER_PRE:
        expr = f"replace({expr}, '{src}', '{dst}')"
    return f"lower({expr})"


def lower_x_py(s: str) -> str:
    """Python twin (str.lower applies İ's special casing but not final
    sigma; the same pre-substitution aligns it with both engines)."""
    for src, dst in _LOWER_PRE:
        s = s.replace(src, dst)
    return s.lower()


def words(text: Column) -> Column:
    """Whitespace tokenization with empty-string removal (split on runs)."""
    return F.filter(F.split(text, rf"[{WS_CHARS}]+"), lambda w: w != "")


def words_sql(expr: str) -> str:
    return (f"list_filter(regexp_split_to_array({expr}, '[{WS_CHARS}]+'), "
            f"w -> w <> '')")


# Languages written without word separators: token-boundary matching can
# never fire (a zh stopword is embedded in an unbroken run), so stopword
# hits are counted as raw character occurrences instead. All such
# stopword lists here are single characters, which makes the count a
# simple character-class scan.
SPACELESS_LANGS = {"zh"}


def _stopword_pattern(sws: list[str]) -> str:
    """Java regex counting whole-token stopword occurrences: a token is a
    maximal non-whitespace run, so a hit is start-or-whitespace, the word,
    then (lookahead, unconsumed) whitespace-or-end. The consumed leading
    ``\\s`` never starves an adjacent following match — that match's own
    leading whitespace is a different character. Count-equivalence with
    exact equality over ``words()`` holds because the lookahead forces a
    full-token match (a prefix alternative can never win spuriously)."""
    return (rf"(?:^|[{WS_CHARS}])(?:" + "|".join(sws)
            + rf")(?=[{WS_CHARS}]|$)")


def _char_class_pattern(sws: list[str]) -> str:
    assert all(len(w) == 1 for w in sws)
    return "[" + "".join(sws) + "]"


def _lang_pattern(lang: str, sws: list[str]) -> str:
    return (_char_class_pattern(sws) if lang in SPACELESS_LANGS
            else _stopword_pattern(sws))


def stopword_hits(text: Column, lang: str) -> Column:
    """Count of stopword occurrences of ``lang`` in the text (with
    multiplicity — repeated stopwords count repeatedly, which is what makes
    the score discriminative on natural text). Spaceless scripts count
    character occurrences (see SPACELESS_LANGS)."""
    return F.regexp_count(
        lower_x(text), F.lit(_lang_pattern(lang, LANG_STOPWORDS[lang])))


def language_id(text: Column) -> Column:
    """Predicted language = argmax over per-language stopword hits; 'und'
    (undetermined) when no list scores a hit. Ties break by the fixed
    language order of LANG_STOPWORDS: the argmax compares (hits, -index)
    structs, so the FIRST language wins ties — deterministic and
    oracle-friendly.

    Formulation notes (measured at sf0.1, 5000 docs × ~300 chars): one
    compiled ``regexp_count`` scan per language. Earlier formulations
    walked a words array with ``aggregate``/``zip_with`` lambdas — Spark
    evaluates higher-order-function lambda bodies INTERPRETED (outside
    whole-stage codegen), costing ~5× vs. this pure-codegen regex scan
    (1.1s vs 5.0s measured). The oracle SQL keeps the list-based
    formulation (DuckDB's RE2 lacks the lookahead this pattern needs);
    count-equivalence is argued in ``_stopword_pattern`` and pinned by
    tests on punctuation/adjacency edge cases."""
    lowered = lower_x(text)
    zipped = F.array(*[
        F.struct(
            F.regexp_count(lowered, F.lit(_lang_pattern(lang, sws))).alias("h"),
            F.lit(-i).alias("ni"),
            F.lit(lang).alias("lang"),
        )
        for i, (lang, sws) in enumerate(LANG_STOPWORDS.items())
    ])
    best = F.array_max(zipped)
    return F.when(best["h"] > 0, best["lang"]).otherwise(F.lit("und"))


def language_id_sql(expr: str) -> str:
    """DuckDB twin of language_id (list_max over (hits, prio, lang) structs
    — both engines order structs lexicographically by field position).
    Spaceless languages count character occurrences via a length delta,
    numerically identical to the Spark char-class regexp_count."""
    structs = []
    for i, (lang, sw) in enumerate(LANG_STOPWORDS.items()):
        if lang in SPACELESS_LANGS:
            cls = "[" + "".join(sw) + "]"
            hits = (
                f"length({lower_x_sql(expr)}) - "
                f"length(regexp_replace({lower_x_sql(expr)}, '{cls}', '', 'g'))"
            )
        else:
            arr = "[" + ", ".join(f"'{w}'" for w in sw) + "]"
            hits = (
                f"len(list_filter({words_sql(f'{lower_x_sql(expr)}')}, "
                f"w -> list_contains({arr}, w)))"
            )
        structs.append(f"{{'hits': {hits}, 'prio': {-i}, 'lang': '{lang}'}}")
    best = f"list_max([{', '.join(structs)}])"
    return f"CASE WHEN ({best}).hits > 0 THEN ({best}).lang ELSE 'und' END"


def token_count(text: Column) -> Column:
    """BPE-ish token count (TOKEN_REGEX matches)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), F.lit(0)))


def token_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '{TOKEN_REGEX}'))"


def word_count(text: Column) -> Column:
    return F.size(words(text))


def word_count_sql(expr: str) -> str:
    return f"len({words_sql(expr)})"


def quality_features(text: Column) -> dict[str, Column]:
    """Heuristic quality signals (Gopher/C4-style length & symbol rules):
    n_chars, n_words, mean word length, alpha ratio, digit ratio,
    punctuation ratio, stopword(en) ratio."""
    n_chars = F.length(text).cast("double")
    ws = words(text)
    n_words = F.size(ws).cast("double")
    safe_chars = F.when(n_chars == 0, 1.0).otherwise(n_chars)
    safe_words = F.when(n_words == 0, 1.0).otherwise(n_words)
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("double")
    n_digit = F.length(F.regexp_replace(text, r"[^0-9]", "")).cast("double")
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()-]", "")).cast("double")
    sw_hits = stopword_hits(text, "en").cast("double")
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": (n_chars - (n_words - 1)) / safe_words,
        "alpha_ratio": n_alpha / safe_chars,
        "digit_ratio": n_digit / safe_chars,
        "punct_ratio": n_punct / safe_chars,
        "stopword_ratio": sw_hits / safe_words,
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1]-ish score: high alpha ratio, reasonable word length,
    some stopwords, low digit/punct noise."""
    f = quality_features(text)
    return (
        0.4 * f["alpha_ratio"]
        + 0.3 * F.least(f["stopword_ratio"] * 2.0, F.lit(1.0))
        + 0.2 * (1.0 - F.least(f["digit_ratio"] * 4.0, F.lit(1.0)))
        + 0.1 * (1.0 - F.least(f["punct_ratio"] * 4.0, F.lit(1.0)))
    )


def quality_sql(expr: str) -> dict[str, str]:
    """DuckDB twins of quality_features + quality_score."""
    w = words_sql(expr)
    sw = "[" + ", ".join(f"'{x}'" for x in LANG_STOPWORDS["en"]) + "]"
    feats = {
        "n_chars": f"CAST(length({expr}) AS DOUBLE)",
        "n_words": f"CAST(len({w}) AS DOUBLE)",
    }
    safe_chars = f"(CASE WHEN length({expr}) = 0 THEN 1.0 ELSE CAST(length({expr}) AS DOUBLE) END)"
    safe_words = f"(CASE WHEN len({w}) = 0 THEN 1.0 ELSE CAST(len({w}) AS DOUBLE) END)"
    n_alpha = f"CAST(length(regexp_replace({expr}, '[^A-Za-z]', '', 'g')) AS DOUBLE)"
    n_digit = f"CAST(length(regexp_replace({expr}, '[^0-9]', '', 'g')) AS DOUBLE)"
    n_punct = (
        f"CAST(length(regexp_replace({expr}, '[^.,;:!?''\"()-]', '', 'g')) AS DOUBLE)"
    )
    sw_hits = (
        f"CAST(len(list_filter({words_sql(f'{lower_x_sql(expr)}')}, w -> list_contains({sw}, w))) AS DOUBLE)"
    )
    feats["mean_word_len"] = f"(CAST(length({expr}) AS DOUBLE) - (CAST(len({w}) AS DOUBLE) - 1)) / {safe_words}"
    feats["alpha_ratio"] = f"{n_alpha} / {safe_chars}"
    feats["digit_ratio"] = f"{n_digit} / {safe_chars}"
    feats["punct_ratio"] = f"{n_punct} / {safe_chars}"
    feats["stopword_ratio"] = f"{sw_hits} / {safe_words}"
    feats["quality_score"] = (
        f"0.4 * ({feats['alpha_ratio']})"
        f" + 0.3 * least(({feats['stopword_ratio']}) * 2.0, 1.0)"
        f" + 0.2 * (1.0 - least(({feats['digit_ratio']}) * 4.0, 1.0))"
        f" + 0.1 * (1.0 - least(({feats['punct_ratio']}) * 4.0, 1.0))"
    )
    return feats


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (space-joined), distinct: ``array_distinct``
    over :func:`ngram_bag`, first occurrence first. The unit of MinHash /
    Jaccard dedup. Tokenization, the short-document rule and the
    degenerate-document convention are ngram_bag's, so NULL text → NULL
    and blank text → the EMPTY shingle array here too: blank docs drop
    out of all pair generation instead of colliding on one '' shingle
    (a skew bomb at 100 TB); identical-blank duplicates are
    exact-dedup's job, not MinHash's. Pinned by
    tests/test_text.py::test_shingles_degenerate_document_convention."""
    return F.array_distinct(ngram_bag(text, n))


def shingles_sql(expr: str, n: int = 3) -> str:
    return f"list_distinct({ngram_bag_sql(expr, n)})"


def ngram_bag(text: Column, n: int = 2) -> Column:
    """Word n-grams WITH multiplicity, in document order — the one word
    n-gram builder: :func:`shingles` is its distinct, and repetition
    scoring, duplicated-span statistics and the bag-of-hashed-ngrams
    feature map of importance-resampling data selection (DSIR, Xie et
    al. 2023) read it directly. Lowercase (:func:`lower_x`), split on
    whitespace runs, join each n consecutive words with a space; a
    document shorter than n words yields its full word sequence as one
    gram.

    Degenerate-document convention (r10, all three twins): NULL text →
    NULL (zero grams after an explode); non-NULL text that tokenizes to
    ZERO words (empty / whitespace-only) → the EMPTY array, exactly like
    an explode of a NULL doc. Blank docs therefore join NULL docs at
    DSIR's neutral prior (weight 0 via the corpus left join in
    ``operators/dsir.dsir_weights``) instead of carrying a phantom ''
    feature. History: r08 shipped ``['']`` here on the Catalyst and
    Python twins while the DuckDB twin's
    ``array_to_string(list_slice(w, 1, n), ' ')`` over an empty word
    list yields ``[NULL]`` — a three-twin hash divergence the pin test
    found. Agreement on every edge is pinned by
    tests/test_text.py::test_ngram_bag_blank_document_convention.

    The words array is LET-BOUND via a one-element ``transform`` before
    the gram loop: HOF lambda bodies re-evaluate captured outer
    expressions on every element, so referencing ``words(text)``
    directly inside the loop re-runs the regex split once per gram —
    O(words²) splits per document, measured 12.5s → 1.3s for 5000 ×
    300-char docs at sf0.1. As a bound lambda variable it is evaluated
    once per row. The NULL guard is also load-bearing: without it the
    HOF chain manufactures a phantom ``[NULL]`` array for NULL text."""
    def per_words(ws: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(ws) - n, F.lit(0)))
        grams = F.transform(
            idx, lambda i: F.array_join(F.slice(ws, i + 1, n), " "))
        return F.when(F.size(ws) > 0, grams).otherwise(
            F.array().cast("array<string>"))

    bag = F.element_at(
        F.transform(F.array(words(lower_x(text))), per_words), 1)
    return F.when(text.isNotNull(), bag)


def words_py(text: str) -> list[str]:
    """Python twin of ``words(lower_x(text))`` — ASCII ``\\s`` equals
    WS_CHARS exactly, and lower_x_py carries the İ/Σ pre-substitution."""
    return [w for w in re.split(r"\s+", lower_x_py(text), flags=re.ASCII)
            if w]


def ngram_bag_py(text: str | None, n: int = 2) -> list[str] | None:
    """Python twin of ``ngram_bag`` (NULL in, NULL out) — the
    brute-force oracle the DSIR property tests recompute weights with,
    and the gram source of the Arrow-batched dedup UDFs."""
    if text is None:
        return None
    ws = words_py(text)
    if not ws:
        return []
    return [" ".join(ws[i:i + n]) for i in range(max(len(ws) - n, 0) + 1)]


def ngram_bag_sql(expr: str, n: int = 2) -> str:
    w = words_sql(f"{lower_x_sql(expr)}")
    return (
        f"CASE WHEN {expr} IS NULL THEN NULL "
        f"WHEN len({w}) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE [array_to_string(list_slice({w}, i + 1, i + {n}), ' ') "
        f"for i in range(greatest(len({w}) - {n}, 0) + 1)] END"
    )


def shingles_py(text: str | None, n: int = 3) -> list[str]:
    """Python twin of ``shingles`` (first-occurrence distinct over
    ``ngram_bag_py``) — the batch kernel used by the vectorized dedup
    UDFs. Kernel convention: None and blank both map to the EMPTY
    shingle list (the Column/SQL twins carry the NULL-in-NULL-out guard
    at the relational layer; inside an Arrow batch there is no NULL
    array to propagate, and every kernel consumer treats zero shingles
    as 'no signature')."""
    return list(dict.fromkeys(ngram_bag_py(text or "", n)))


def chunk_text(text: Column, chunk_size: int = 4096) -> Column:
    """Split a document into fixed-size character chunks — the reference
    README's quickstart chunking (/root/reference/README.md:54-68, 4096-byte
    chunks of the novel), as an array column to ``explode`` into a
    chunks-per-document table. Empty text yields one empty chunk (the
    reference loop body runs once on an empty read)."""
    n_chunks = F.greatest(
        F.ceil(F.length(text) / F.lit(chunk_size)).cast("int"), F.lit(1))
    idx = F.sequence(F.lit(0), n_chunks - 1)
    return F.transform(idx, lambda i: F.substring(
        text, (i * chunk_size + 1).cast("int"), chunk_size))


def chunk_text_sql(expr: str, chunk_size: int = 4096) -> str:
    return (
        f"[substr({expr}, i * {chunk_size} + 1, {chunk_size}) "
        f"for i in range(greatest(CAST(ceil(length({expr}) / {chunk_size}) AS INT), 1))]"
    )


def repetition_features(text: Column) -> dict[str, Column]:
    """Gopher-style intra-document repetition signals: the fraction of
    word occurrences (and 2-/3-gram occurrences) that are repeats of an
    earlier occurrence — ``1 - distinct/total``. High values flag
    boilerplate, keyword stuffing, and degenerate generations; training
    pipelines drop docs above a dup-ngram threshold. Pure codegen
    (split + transform + array_distinct), no shuffle: scan-linear."""
    out: dict[str, Column] = {}
    ws = words(lower_x(text))
    n_words = F.size(ws).cast("double")
    safe = F.when(n_words == 0, 1.0).otherwise(n_words)
    out["n_words"] = F.size(ws)
    out["dup_word_frac"] = (n_words - F.size(F.array_distinct(ws))) / safe
    for n in (2, 3):
        grams = ngram_bag(text, n)
        total = F.size(grams).cast("double")
        safe_g = F.when(total == 0, 1.0).otherwise(total)
        out[f"dup_{n}gram_frac"] = (
            (total - F.size(F.array_distinct(grams))) / safe_g)
    return out


def repetition_sql(expr: str) -> dict[str, str]:
    """DuckDB twins of repetition_features."""
    w = words_sql(f"{lower_x_sql(expr)}")
    safe = f"(CASE WHEN len({w}) = 0 THEN 1.0 ELSE CAST(len({w}) AS DOUBLE) END)"
    out = {
        "n_words": f"len({w})",
        "dup_word_frac":
            f"(CAST(len({w}) AS DOUBLE) - len(list_distinct({w}))) / {safe}",
    }
    for n in (2, 3):
        g = ngram_bag_sql(expr, n)
        total = f"CAST(len({g}) AS DOUBLE)"
        safe_g = f"(CASE WHEN len({g}) = 0 THEN 1.0 ELSE {total} END)"
        out[f"dup_{n}gram_frac"] = (
            f"({total} - len(list_distinct({g}))) / {safe_g}")
    return out


# PII scrubbing — patterns deliberately restricted to the regex dialect
# INTERSECTION of Java (Spark) and RE2 (DuckDB): character classes,
# bounded repetition, \b, non-capturing groups; no lookaround, no
# backreferences. Applied in fixed list order.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # International-format phone: leading + and country code, then 3-5
    # digit groups of 2-4 digits with single separators. The mandatory
    # '+' keeps it from eating ids, prices and version strings; the
    # GROUP structure (each separator must be followed by 2-4 digits)
    # keeps a trailing standalone digit out of the match — the earlier
    # flat '[\d()\- ]{6,}\d' class ate the '4' of '+1 555 0100 4 GB'
    # because its greedy tail could absorb any space-digit run. The
    # {3,5} repetition is the total-digit floor (>= 1 + 3*2 = 7): short
    # numeric runs like '+1 23 45' are NOT phones and must survive the
    # scrub. A floor lookahead is unavailable here — RE2 (the DuckDB
    # side of the shared dialect) has no lookaround — but {3,5} gives
    # the same guarantee structurally: consecutive digit runs still
    # match because a run of 6+ digits always splits into valid 2-4
    # digit groups ('+1 5550100' -> (55)(50)(100)).
    ("phone", r"\+\d{1,3}(?:[- ]?\(?\d{2,4}\)?){3,5}", "<PHONE>"),
]


def pii_scrub(text: Column) -> Column:
    """Replace emails / IPv4s / intl-format phone numbers with typed
    placeholder tokens — the standard pre-training scrub pass. Pure
    ``regexp_replace`` chain: codegen, scan-linear, no shuffle."""
    out = text
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind match counts on the RAW text (audit columns: pipelines
    log how much PII they removed per shard)."""
    return {f"n_{kind}": F.regexp_count(text, F.lit(pat))
            for kind, pat, _ in PII_PATTERNS}


def _sql_quote(pat: str) -> str:
    # DuckDB single-quoted literals have NO backslash escapes (standard
    # SQL) — only quote-doubling; the regex backslashes pass through as-is.
    return pat.replace("'", "''")


def pii_scrub_sql(expr: str) -> str:
    out = expr
    for _, pat, repl in PII_PATTERNS:
        out = f"regexp_replace({out}, '{_sql_quote(pat)}', '{repl}', 'g')"
    return out


def pii_counts_sql(expr: str) -> dict[str, str]:
    return {
        f"n_{kind}": f"len(regexp_extract_all({expr}, '{_sql_quote(pat)}'))"
        for kind, pat, _ in PII_PATTERNS
    }


# perfbench imports the bulk-shingling name.
shingles_kernel = shingles


def doc_fingerprint(text: Column, n: int = 3) -> Column:
    """Document fingerprint: the lexicographically minimal md5 over word
    n-gram shingles (a 1-function MinHash / winnowing-lite). Stable under
    reordering-free edits far from the minimal shingle; cross-engine
    exact. NULL and blank docs fingerprint to NULL in both engines (min
    over the r10 zero-shingle convention — through r09 Spark hashed the
    phantom '' shingle here while DuckDB returned NULL)."""
    return F.array_min(
        F.transform(shingles(text, n),
                    lambda s: F.md5(s.cast("binary")))
    )


def doc_fingerprint_sql(expr: str, n: int = 3) -> str:
    return f"list_min(list_transform({shingles_sql(expr, n)}, s -> md5(s)))"
