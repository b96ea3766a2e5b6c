"""Deduplication operators for training-data pipelines.

Four families, each designed for the 100 TB shape (shuffle by key, never
all-pairs unless the candidate set is already bucketed):

- **exact**     — sha256(content) groupBy; one shuffle, map-side partial agg.
- **MinHash+LSH** — shingle → signature → band buckets → equi-join on
  (band, key) for candidates → exact Jaccard verify. The classic
  near-dedup at scale: candidate generation is a hash join on band keys,
  O(N·sig) not O(N²).
- **SimHash**   — 60-bit sign fingerprint; near-dups = small Hamming
  distance (bit_count(xor)); bucketable by fingerprint prefix at scale.
- **embedding cosine** — semantic near-dup pairs above a cosine
  threshold: ``cosine_neardup_pairs`` (per-pair dot product, optionally
  blocked) or ``cosine_neardup_pairs_gemm`` (one GEMM per block).

Hashing recipe (identical in Python / Spark / DuckDB, so every operator
oracle-checks): base hash = first 8 hex chars of md5 → int in [0, 2^32);
MinHash family h_i(x) = (a_i·x + b_i) mod P with P = 2^31-1 and fixed
odd multipliers — ONE md5 per shingle regardless of signature length
(products stay < 2^63, no overflow in int64 on either engine).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from go_simple_embedding_database_spark.functions.text import (
    ngram_bag, ngram_bag_py, ngram_bag_sql, shingles, shingles_py,
    shingles_sql)

MERSENNE_P = 2147483647  # 2^31 - 1
_KNUTH = 2654435761  # Knuth multiplicative constant


def _minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs; a_i odd, both < P."""
    return [
        (((2 * i + 1) * _KNUTH) % MERSENNE_P | 1, (7919 * (i + 1)) % MERSENNE_P)
        for i in range(num_hashes)
    ]


# -- exact dedup --------------------------------------------------------------

def content_hash(content_col: str) -> Column:
    """THE content-identity definition (sha256 over the raw bytes) shared
    by ``exact_dedup`` and ``exact_dedup_keep`` — a single definition so
    the cluster table and the kept table can never disagree about what
    counts as "the same document"."""
    return F.sha2(F.col(content_col).cast("binary"), 256)


def exact_dedup(df: DataFrame, content_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate clusters by content hash: (content_hash,
    keeper, n_copies). Keeper = min id (deterministic)."""
    return (
        df.groupBy(content_hash(content_col).alias("content_hash"))
        .agg(F.min(id_col).alias(f"keeper_{id_col}"), F.count("*").alias("n_copies"))
    )


def exact_dedup_keep(df: DataFrame, content_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """The deduplicated table itself: keep the min-id row per content hash.

    Implemented as ``min_by(struct(*row), id)`` per hash group, NOT a
    row_number window: an aggregate PARTIAL-COMBINES map-side, so the
    hash exchange carries one surviving row per distinct hash per input
    partition — on a duplicate-heavy 100 TB corpus that is the dedup
    ratio's worth of shuffle saved, where the window formulation ships
    EVERY row through the exchange before it can number anything. The
    struct buffer makes Spark pick SortAggregate (local per-partition
    sorts on the hash key, before and after the slim exchange) — local
    CPU traded for shuffle volume, the right side of that trade at
    scale. Deterministic: ``id_col`` is unique, so min_by has no
    ties."""
    keep = F.min_by(F.struct(*df.columns), F.col(id_col)).alias("_keep")
    return (df.groupBy(content_hash(content_col).alias("_h")).agg(keep)
            .select("_keep.*"))


# -- MinHash + LSH -------------------------------------------------------------

def md5_prefix_sql(grams: str, hex_chars: int) -> str:
    """Each gram of the list expression ``grams`` → the integer value of
    the first ``hex_chars`` hex chars of its md5 (DuckDB twin of
    ``_md5_prefix_py``)."""
    return (f"list_transform({grams}, "
            f"s -> CAST(concat('0x', substr(md5(s), 1, {hex_chars})) "
            f"AS BIGINT))")


def _md5_prefix_py(grams: list[str], hex_chars: int) -> "np.ndarray":
    """int64 array of the first ``hex_chars`` hex chars of each gram's md5.
    MinHash and winnowing take 8 (32 bits: the permutation family
    multiplies the base hash, which must stay < 2^32 to avoid int64
    overflow); SimHash takes ``_SIMHASH_HEX_CHARS`` (it wants the most
    independent bits)."""
    return np.array(
        [int(hashlib.md5(s.encode("utf-8")).hexdigest()[:hex_chars], 16)
         for s in grams],
        dtype=np.int64,
    )


def minhash_signature(text: Column, num_hashes: int = 12, n: int = 3) -> Column:
    """array<bigint> of length num_hashes: min over shingles of each family
    hash — identical values to the DuckDB twin ``minhash_signature_sql``.

    Implemented as an Arrow-batched pandas_udf: the recipe needs one md5
    per shingle, and hashlib's C md5 + one numpy (S × H) modmul is ~20×
    faster than an interpreted md5/conv/substring HOF tree (measured
    20.3s → ~1s for 500 docs × 12 hashes); such an expression cannot
    whole-stage-codegen, so "UDFs are the slow path" loses to measurement
    here, exactly as with the mock-hash embedder."""
    params = _minhash_params(num_hashes)
    a = np.array([p[0] for p in params], dtype=np.int64)
    b = np.array([p[1] for p in params], dtype=np.int64)

    @pandas_udf("array<bigint>")
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            hs = _md5_prefix_py(shingles_py(t, n), 8)
            if hs.size == 0:
                # zero shingles (NULL/blank doc, r10 convention): the
                # min over an empty set is NULL per hash — identical to
                # array_min([]) in the expr twin and list_min([]) in
                # the DuckDB twin (and a crash in numpy otherwise).
                out.append([None] * num_hashes)
                continue
            # products < 2^63: hs < 2^32, a < 2^31 — no int64 overflow.
            out.append(
                ((hs[:, None] * a[None, :] + b[None, :]) % MERSENNE_P)
                .min(axis=0))
        return pd.Series(out)

    return _sig(text)


def minhash_signature_sql(expr: str, num_hashes: int = 12, n: int = 3) -> str:
    hs = md5_prefix_sql(shingles_sql(expr, n), 8)
    mins = ", ".join(
        f"list_min(list_transform(h, x -> ({a} * x + {b}) % {MERSENNE_P}))"
        for a, b in _minhash_params(num_hashes)
    )
    return f"(SELECT [{mins}] FROM (SELECT {hs} AS h) _mh)"


def _band_key(sig: Column, band: int, rows_per_band: int) -> Column:
    piece = F.slice(sig, band * rows_per_band + 1, rows_per_band)
    return F.md5(F.concat_ws("-", F.transform(piece, lambda v: v.cast("string"))).cast("binary"))


def lsh_bands(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              num_hashes: int = 12, bands: int = 4, n: int = 3) -> DataFrame:
    """(id, band, key): one row per document per band. Docs agreeing on ALL
    rows within any band share that band's key — the LSH bucket."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    from go_simple_embedding_database_spark.session import ensure_parallelism

    sig = minhash_signature(F.col(text_col), num_hashes, n)
    banded = ensure_parallelism(df).select(
        F.col(id_col),
        sig.alias("_sig"),
    )
    cols = [
        F.struct(F.lit(b).alias("band"), _band_key(F.col("_sig"), b, r).alias("key"))
        for b in range(bands)
    ]
    return (
        banded.select(id_col, F.explode(F.array(*cols)).alias("bk"))
        .select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )


def minhash_candidate_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", num_hashes: int = 12,
                            bands: int = 4, n: int = 3,
                            max_bucket_size: int | None = None) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any band bucket.

    Physically: ONE signature pass → shuffle by (band, key) → pairs
    exploded from each bucket's sorted id list. A bucket self-join would
    plan the signature UDF subtree twice (Spark reuses exchanges, not
    arbitrary subplans — measured 2× the UDF cost at sf0.1); the
    groupBy/collect_list form computes signatures exactly once and never
    cross-joins. Bucket lists are bounded by bucket membership, not corpus
    size; at 100 TB pass ``max_bucket_size`` to drop degenerate
    boilerplate buckets (quadratic pair blowup) instead of exploding
    them — standard practice, flagged here rather than silent."""
    bk = lsh_bands(df, text_col, id_col, num_hashes, bands, n)
    buckets = (
        bk.groupBy("band", "key")
        # collect_set, not collect_list: a duplicated input id would
        # otherwise pair with itself (the old a.id < b.id join predicate
        # excluded self-pairs; the set keeps that invariant).
        .agg(F.sort_array(F.collect_set(id_col)).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("_ids") <= max_bucket_size)
    pairs = F.flatten(F.expr(
        "transform(_ids, (x, i) -> "
        "transform(slice(_ids, i + 2, size(_ids) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b)))"
    ))
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def jaccard_from_lists_sql(expr_a: str, expr_b: str) -> str:
    """DuckDB twin of ``jaccard_from_shingle_arrays`` over two
    PRECOMPUTED distinct shingle-list expressions: exactly the
    list_distinct-union Jaccard (|A∪B| = |A|+|B|-|A∩B| for distinct
    lists), but evaluated on per-document lists instead of re-inlining
    the tokenizer per candidate pair — the difference between a
    sub-second and a ~50 s oracle at sf0.01."""
    inter = f"len(list_intersect({expr_a}, {expr_b}))"
    return (
        f"CASE WHEN len({expr_a}) + len({expr_b}) = 0 THEN 0.0 "
        f"ELSE CAST({inter} AS DOUBLE) "
        f"/ (len({expr_a}) + len({expr_b}) - {inter}) END"
    )


def jaccard_from_shingle_arrays(sa: Column, sb: Column) -> Column:
    """|A∩B| / |A∪B| over two precomputed distinct shingle arrays, as
    inter / (|A| + |B| - inter) — one ``array_intersect`` instead of
    intersect + union (measured ~2× on the 30k-pair sf0.1 verify stage;
    ``F.size`` on an attribute is O(1) metadata). The zero guard matches
    the union formulation: |A∪B| = 0 iff both sets are empty iff
    |A|+|B| = 0."""
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    na, nb = F.size(sa).cast("double"), F.size(sb).cast("double")
    return F.when(na + nb == 0, 0.0).otherwise(inter / (na + nb - inter))


def minhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  threshold: float = 0.7, num_hashes: int = 12, bands: int = 4,
                  n: int = 3) -> DataFrame:
    """Near-duplicate pairs: LSH candidates verified by exact Jaccard >=
    threshold. Returns (id_a, id_b, jaccard).

    Shingle arrays are computed ONCE per document and joined to the
    candidate pairs — not recomputed per pair (candidates can vastly
    outnumber documents when boilerplate shares band buckets). Both
    sides join the same ``sh`` relation under two aliases, so their
    plans are identical: when AQE broadcasts both sides it reuses the
    first side's exchange for the second and shingles the corpus once."""
    cand = minhash_candidate_pairs(df, text_col, id_col, num_hashes, bands, n)
    sh = df.select(F.col(id_col).alias("_id"),
                   shingles(F.col(text_col), n).alias("_sh"))
    withs = (cand.join(sh.alias("a"), F.col("id_a") == F.col("a._id"))
             .join(sh.alias("b"), F.col("id_b") == F.col("b._id")))
    return (
        withs.withColumn("jaccard", jaccard_from_shingle_arrays(
            F.col("a._sh"), F.col("b._sh")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# -- length-band blocked exact Jaccard ----------------------------------------

def length_band_jaccard_dedup(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id",
                              block_cols: tuple[str, ...] = ("source",),
                              len_col: str = "n_chars", band_width: int = 8,
                              threshold: float = 0.8, n: int = 3) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs. Semantics: emit (id_a, id_b,
    jaccard) for every pair in the same ``block_cols`` group, within one
    ``band_width``-character length band of each other (|band_a − band_b|
    <= 1 — near-identical text has near-identical length), with shingle
    Jaccard >= ``threshold``. EXACT under the block+band restriction — no
    sketch, no recall loss.

    Candidate generation is PREFIX FILTERING (the published exact
    set-similarity-join technique — Chaudhuri et al.'s SSJoin primitive,
    Bayardo et al. "Scaling Up All Pairs Similarity Search", WWW'07):
    under any global total order on shingles, two sets with
    J(A,B) >= t must share a shingle among each set's first
    |S| − ceil(t·|S|) + 1 shingles (if all of A's >= ceil(t·|A|) common
    shingles sat past that prefix, fewer than ceil(t·|A|) positions would
    remain — impossible). So candidates come from an EQUI-JOIN on
    exploded prefix shingles, and two documents with disjoint content
    never meet — unlike pure length-banding, where every same-length doc
    pair in a block is a candidate (quadratic in cell density: measured
    7.15x wall-clock at 10x corpus in tools/scale_probe.py, vs ~2x after
    this change). The global order is corpus-frequency ascending with a
    lexical tiebreak — prefixes hold each document's RAREST shingles, so
    per-token join fanout is self-limiting (a boilerplate shingle sorts
    last and never enters a prefix unless a document has nothing rarer).

    Plan shape: one shuffle on the shingle for the frequency count, one
    on the id for the per-document prefix window, one on the prefix token
    for the candidate join, then the slim (id_a, id_b) distinct and two
    id-keyed joins that attach the precomputed shingle arrays for the
    exact verify — every exchange is key-partitioned, never all-pairs.
    The base and prefix relations are each read by multiple plan branches
    and are materialized via self-releasing lazy localCheckpoints."""
    from pyspark.sql import Window

    band = (F.col(len_col) / band_width).cast("long")
    # Shingle ONCE per document — the verify stage reads these arrays back
    # by id instead of re-tokenizing per candidate pair (measured 20x).
    base = (df.select(id_col, *block_cols, band.alias("_band"),
                      shingles(F.col(text_col), n).alias("_sh"))
            .localCheckpoint(eager=False))
    tok = base.select(id_col, *block_cols, "_band",
                      F.size("_sh").alias("_nsh"),
                      F.explode("_sh").alias("_tok"))
    # Corpus document frequency as a count-over-token window (the
    # containment operator's trick): one shuffle yields df already
    # attached to every occurrence.
    ranked = tok.withColumn("_df", F.count("*").over(Window.partitionBy("_tok")))
    pref_len = (F.col("_nsh")
                - F.ceil(F.lit(threshold) * F.col("_nsh")).cast("long") + 1)
    pref = (ranked
            .withColumn("_rn", F.row_number().over(
                Window.partitionBy(id_col).orderBy("_df", "_tok")))
            .filter(F.col("_rn") <= pref_len)
            .select(id_col, *block_cols, "_band", "_tok")
            .localCheckpoint(eager=False))
    a, b = pref.alias("a"), pref.alias("b")
    cond = (F.col("a._tok") == F.col("b._tok")) & \
           (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & \
           (F.abs(F.col("a._band") - F.col("b._band")) <= 1)
    for c in block_cols:
        cond &= F.col(f"a.{c}") == F.col(f"b.{c}")
    # A pair can collide on several shared prefix shingles — dedupe the
    # slim id pair before attaching the (wide) shingle arrays.
    cand = (a.join(b, cond)
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())
    sh = base.select(F.col(id_col), F.col("_sh"))
    withs = (cand.join(sh.withColumnRenamed(id_col, "id_a")
                       .withColumnRenamed("_sh", "_sa"), "id_a")
             .join(sh.withColumnRenamed(id_col, "id_b")
                   .withColumnRenamed("_sh", "_sb"), "id_b"))
    return (withs.withColumn("jaccard", jaccard_from_shingle_arrays(
                F.col("_sa"), F.col("_sb")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# -- winnowing fingerprints ------------------------------------------------------

def winnow_fingerprints(text: Column, window: int = 4, n: int = 3) -> Column:
    """Winnowing (Schleimer et al., SIGMOD 2003): the distinct minima of a
    sliding window over the positional shingle-hash sequence. Guarantees a
    shared fingerprint for any match longer than window+n-1 words — the
    plagiarism-detection / long-dup primitive that MinHash (whole-document
    similarity) is not. array<bigint>, Arrow-batched like the other dedup
    kernels. Degenerate-document convention (r10, matching the DuckDB
    twin's guards): NULL text → NULL, blank text → ZERO fingerprints —
    a content-free doc cannot share a passage, and both map to zero rows
    after the explode every consumer applies."""
    @pandas_udf("array<bigint>")
    def _fp(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            hs = _md5_prefix_py(ngram_bag_py(t, n), 8)
            if hs.size == 0:
                out.append(np.array([], dtype=np.int64))
                continue
            if len(hs) <= window:
                mins = np.array([hs.min()])
            else:
                w = np.lib.stride_tricks.sliding_window_view(hs, window)
                mins = w.min(axis=1)
            out.append(np.unique(mins))
        return pd.Series(out)

    return _fp(text)


def winnow_fingerprints_sql(expr: str, window: int = 4, n: int = 3) -> str:
    """DuckDB twin of :func:`winnow_fingerprints`. The degenerate-doc
    guards are load-bearing, not cosmetic: without them a blank or NULL
    doc's empty word list slices to a NULL shingle, md5(NULL) is NULL,
    and ``concat('0x', NULL)`` is the string ``'0x'`` in DuckDB — which
    does not CAST to BIGINT, so the twin CRASHED the whole oracle query
    on the first degenerate doc (found by the r10 degenerate-input
    audit; unreachable on gate data, fatal for any external caller).

    The zero-word guard must live INSIDE the subquery, not only in the
    outer CASE: DuckDB decorrelates the scalar subquery over table rows
    and evaluates it for EVERY row regardless of the CASE branch taken,
    so an outer-only guard still crashed on the degenerate rows it was
    guarding (caught by tests/test_degenerate_parity.py — the
    scalar-literal probe never decorrelates and passed). ``ngram_bag_sql``
    is that guard: its own CASE maps NULL and blank docs to NULL and
    ``[]`` before any md5, and an empty hash list winnows to ``[]``
    (``list_distinct`` drops the NULL window minimum)."""
    mins = (
        f"[list_min(list_slice(_hs, i + 1, i + {window})) "
        f"for i in range(greatest(len(_hs) - {window}, 0) + 1)]"
    )
    return (
        f"CASE WHEN {expr} IS NULL THEN NULL "
        f"ELSE (SELECT list_sort(list_distinct({mins})) FROM "
        f"(SELECT {md5_prefix_sql('_sq', 8)} AS _hs FROM "
        f"(SELECT {ngram_bag_sql(expr, n)} AS _sq) _s) _h) END"
    )


# -- SimHash -------------------------------------------------------------------

# 60-bit fingerprint: 15 hex chars of md5 — the widest md5 prefix that
# stays positive in a SIGNED 64-bit integer on every engine (Spark conv→
# bigint, DuckDB 0x-cast, numpy int64), so no two's-complement shims are
# needed anywhere. Width matters for the banded pair join: with
# max_hamming=6 the 7 pigeonhole bands are 8-9 bits wide (256-512 bucket
# values each) — ~16-32× sharper candidate buckets than the former 32-bit
# fingerprint's 4-5-bit bands, while keeping the same Hamming semantics.
SIMHASH_BITS = 60
_SIMHASH_HEX_CHARS = SIMHASH_BITS // 4


def simhash(text: Column, n: int = 3) -> Column:
    """60-bit SimHash over shingle hashes: bit b of the fingerprint is the
    sign of Σ_shingles (2·bit_b(h) − 1). Near-dups differ in few bits.

    Arrow-batched pandas_udf for the same reason as ``minhash_signature``:
    60 interpreted per-bit folds over the shingle array cannot codegen
    (measured 13.7s → ~1s for 500 docs at 32 bits); values are identical
    to the DuckDB twin ``simhash_sql``."""
    bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)

    @pandas_udf("bigint")
    def _fp(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            hs = _md5_prefix_py(shingles_py(t, n), _SIMHASH_HEX_CHARS)
            votes = (((hs[:, None] >> bit_idx[None, :]) & 1) * 2 - 1).sum(axis=0)
            out.append(int(((votes > 0).astype(np.int64) << bit_idx).sum()))
        return pd.Series(out)

    return _fp(text)


def simhash_sql(expr: str, n: int = 3) -> str:
    hs = md5_prefix_sql(shingles_sql(expr, n), _SIMHASH_HEX_CHARS)
    votes = " + ".join(
        f"(CASE WHEN list_sum(list_transform(h, x -> ((x >> {b}) & 1) * 2 - 1)) > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"(SELECT {votes} FROM (SELECT {hs} AS h) _sh)"


def _pigeonhole_bands(fp: Column, bits: int, nbands: int) -> list[Column]:
    """Split a ``bits``-wide fingerprint into ``nbands`` contiguous bit
    ranges (widths differ by at most one). Pigeonhole: a pair with Hamming
    distance <= nbands-1 has fewer differing bits than bands, so at least
    one band matches EXACTLY on both sides."""
    base, rem = divmod(bits, nbands)
    bands, off = [], 0
    for i in range(nbands):
        w = base + (1 if i < rem else 0)
        bands.append(F.shiftright(fp, off).bitwiseAND(F.lit((1 << w) - 1)))
        off += w
    return bands


def simhash_neardup_pairs(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", max_hamming: int = 3,
                          n: int = 3, block_col: str | None = None) -> DataFrame:
    """Pairs with Hamming(simhash_a, simhash_b) <= max_hamming.

    Candidate generation is an EQUI-join on pigeonhole bands — never a
    cross join: the fingerprint is split into ``max_hamming + 1`` bands,
    and any pair within the Hamming budget must agree exactly on at least
    one band, so banding loses NO true pairs (equivalence vs brute force
    pinned in test_dedup). Each doc explodes into one row per band and the
    join key is (band_idx, band_bits) — the same bucketed shuffle shape as
    the MinHash LSH path above.

    Selectivity: 60-bit fingerprints with the default max_hamming=6 give
    8-9-bit bands (256-512 bucket values each) — candidate pairs scale as
    ~N²·7/2⁹ per block before the Hamming filter, a real cut that keeps
    improving with ``block_col`` (source / partition key), which is
    AND-ed into the join key here for corpus-scale runs.
    """
    from go_simple_embedding_database_spark.session import ensure_parallelism

    fp = ensure_parallelism(df).select(
        F.col(id_col), *([F.col(block_col)] if block_col else []),
        simhash(F.col(text_col), n).alias("fp"))
    # The self-join plans the fp subtree twice and Spark only reuses
    # exchanges, not arbitrary subplans — materialize the (id, fp)
    # relation (16 bytes/doc) so the fingerprint UDF runs once per
    # document. Lazy localCheckpoint, not persist(): the checkpoint
    # blocks are released by the ContextCleaner when the returned
    # DataFrame is garbage-collected, so composing several operators in
    # one session accumulates no pinned storage (VERDICT r02 #6).
    fp = fp.localCheckpoint(eager=False)
    nbands = max_hamming + 1
    banded = fp.select(
        id_col, "fp", *([block_col] if block_col else []),
        F.posexplode(F.array(*_pigeonhole_bands(F.col("fp"), SIMHASH_BITS, nbands))
                     ).alias("band_idx", "band_bits"))
    a, b = banded.alias("a"), banded.alias("b")
    on = [F.col("a.band_idx") == F.col("b.band_idx"),
          F.col("a.band_bits") == F.col("b.band_bits")]
    if block_col:
        on.append(F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    return (
        a.join(b, on)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).alias("hamming"),
        )
        # Hamming filter BEFORE the pair-dedup shuffle: a pair may collide
        # in several bands, so duplicates exist, but only surviving pairs
        # (a tiny set) pay the distinct — the bulk candidates die in the
        # same codegen stage that scored them.
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# -- dedup clusters: connected components --------------------------------------

def _union_find(pairs: list[tuple]) -> dict:
    """Driver-side union-find with path compression — the small-graph
    engine under ``connected_components``. Labels every node with its
    component's MINIMUM member (same contract as the distributed loop)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # Union by min so the root IS the minimum label.
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


# Below this many (undirected, deduped) edges the component graph is
# solved driver-side: each distributed round costs ~4 shuffle stages of
# job-scheduling latency, which dominates wall-clock until the edge list
# stops fitting comfortably in driver memory. Honest budget at the cap:
# the Arrow transfer of 1M (src, dst) rows is ~16 MB, but the union-find
# parent dict and the per-node label dict peak at a few hundred MB of
# Python objects — well inside this engine's 8g driver (session.py) but
# NOT a default 1g driver; lower the threshold if the driver is small.
# Near-dup edge sets are tiny relative to the corpus even at 100 TB
# (they are pairs ABOVE a high similarity threshold); when they are
# not, the distributed loop below engages unchanged.
SMALL_GRAPH_EDGES = 500_000


def connected_components(edges: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 25,
                         small_graph_edges: int = SMALL_GRAPH_EDGES) -> DataFrame:
    """Connected components over an undirected pair graph by min-label
    propagation: every node starts labeled with itself; each round a node
    takes the minimum label among itself and its neighbors; converge when
    no label changes. Returns (node, comp) with comp = the component's
    minimum node id.

    This is THE missing step between near-dup PAIRS and dedup GROUPS
    (keep one doc per component) — transitive closure that no single join
    can express. Iterations run as Spark jobs over a persisted label
    table (O(diameter) rounds; near-dup clusters are shallow, so
    convergence is fast); each round is one equi-join + one min-aggregate,
    both shuffle-partitioned on the node id. At billions of edges swap the
    propagation for the two-phase large-star/small-star variant
    (Kiveris et al., "Connected Components in MapReduce") — same driver
    loop, fewer rounds on high-degree graphs.

    Hybrid execution: the undirected edge relation is materialized (it
    is the loop's working set either way) and counted; at or below
    ``small_graph_edges`` the components are solved with driver-side
    union-find instead of the loop. This is not a driver-side-loop
    anti-pattern but the standard small-graph tail: each distributed
    round costs ~4 shuffle stages of scheduling latency, and a
    high-threshold near-dup edge set is tiny relative to the corpus —
    the expensive, genuinely distributed work (pair generation) has
    already happened upstream. Above the threshold the distributed loop
    runs unchanged.

    Caching contract: the returned labels DataFrame is an EAGER
    localCheckpoint (materialized before the loop's working set is
    released); its blocks free themselves once the caller drops the
    result — no session-pinned cache, same discipline as the other
    materializing operators. Release is GC-DRIVEN by default
    (ContextCleaner reacts to the JVM collecting the RDD reference) and
    ``.unpersist()`` on the result is a no-op (checkpoint blocks live
    on the RDD, not in the CacheManager); a caller that must free the
    blocks deterministically before heavy follow-on work should call
    ``plans.checkpoints.release_local_checkpoint(result)`` (round 9 —
    unpersists the LogicalRDD's own RDD reference). Intermediate rounds
    and the edge relation are released here.

    Raises RuntimeError if labels are still changing after ``max_iter``
    rounds — partial labels would silently mis-cluster downstream dedup."""
    # Undirect the edges with ONE pass over the pair source: a
    # union(edges, reversed(edges)) plans the (potentially expensive)
    # pair-generation subtree twice — explode emits both orientations
    # from a single evaluation.
    und = (edges.select(F.explode(F.array(
               F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
               F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
           )).alias("_e"))
           .select("_e.src", "_e.dst")
           .distinct().persist())
    # The count doubles as the persist-materializing action the loop (or
    # the collect) needs anyway; und holds BOTH orientations, so compare
    # against 2× the threshold.
    if und.count() <= 2 * small_graph_edges:
        # Arrow-batched transfer (toPandas) instead of Row-object
        # collect(): ~10× smaller transient footprint at the cap.
        pdf = und.toPandas()
        comp = _union_find(list(zip(pdf["src"].tolist(),
                                    pdf["dst"].tolist())))
        und.unpersist()
        from pyspark.sql.types import StructField, StructType
        id_type = edges.schema[id_a].dataType
        schema = StructType([StructField("node", id_type, False),
                             StructField("comp", id_type, False)])
        return edges.sparkSession.createDataFrame(
            sorted(comp.items()), schema)
    labels = (und.select(F.col("src").alias("node")).distinct()
              .withColumn("comp", F.col("node")).persist())
    changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und.dst == labels.node)
            .groupBy("src").agg(F.min("comp").alias("ncomp")))
        propagated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select("node", F.col("comp").alias("_prev"),
                    F.least("comp", F.coalesce("ncomp", F.col("comp")))
                    .alias("comp")))
        # Pointer jumping (shortcutting): replace each label by its
        # label's label. Propagation alone needs O(diameter) rounds —
        # a 70s run on a chain-heavy fingerprint graph; with the jump
        # the label tree halves in height per round, O(log diameter).
        # The self-join's two sides hash on DIFFERENT keys (comp vs
        # node), so exchange reuse can't dedupe them — persist, or the
        # neighbor-min join+agg subtree evaluates twice per round.
        propagated = propagated.persist()
        l1, l2 = propagated.alias("l1"), propagated.alias("l2")
        # localCheckpoint (lazy) truncates LINEAGE, not just recompute:
        # persist alone leaves the full logical plan in place for the
        # analyzer, and each round references the previous round's plan
        # ~3× (neighbor-min join + the two self-join sides), so the
        # analyzed tree grows 3^rounds — driver-heap OOM before round ~12.
        # The checkpointed frame plans as a LogicalRDD leaf, keeping every
        # round's plan O(1). (localCheckpoint is executor-local — on a
        # cluster an executor loss forces recompute from the persisted
        # parent; use checkpoint(dir) for fault-critical runs.)
        new_labels = (
            l1.join(l2, F.col("l1.comp") == F.col("l2.node"))
            .select(F.col("l1.node").alias("node"),
                    F.col("l1._prev").alias("_prev"),
                    F.col("l2.comp").alias("comp"))
            .localCheckpoint(eager=False))
        # Convergence detection folded into the materializing action: the
        # previous round's label rides along as _prev, so ONE aggregate
        # both fills the cache (checkpoints the RDD) and yields the change
        # count — no separate join-against-old-labels job per round.
        changed = new_labels.agg(
            F.count_if(F.col("comp") != F.col("_prev")).alias("n")
        ).collect()[0][0]
        propagated.unpersist()
        if labels.is_cached:
            labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    und.unpersist()
    if changed:
        if labels.is_cached:
            labels.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — returning partial labels "
            f"would mis-cluster; raise max_iter (rounds needed is "
            f"O(log diameter) with pointer jumping)")
    # Eager: materializes NOW (one job, same cost as the former
    # persist+count), truncates lineage so the loop relations can be
    # released below, and the blocks self-free when the caller drops
    # the result.
    out = labels.select("node", "comp").localCheckpoint(eager=True)
    if labels.is_cached:
        labels.unpersist()
    return out


# -- embedding cosine near-dup --------------------------------------------------

def cosine_neardup_pairs_gemm(df: DataFrame, vec_col: str = "embedding",
                              id_col: str = "vec_id", threshold: float = 0.95,
                              block_col: str = "label") -> DataFrame:
    """Blocked cosine near-dup via per-block matrix multiply
    (``applyInPandas``): normalize the block's vectors once, one numpy
    GEMM gives every pairwise cosine, emit the upper triangle >= threshold.
    Measured 7× faster than the per-pair HOF dot product at sf0.1 (one
    vectorized BLAS call vs ~500k interpreted lambda evaluations).

    Zero-norm vectors keep the kernel's zero-norm → 0.0 rule (their
    normalized row is the zero vector, so every dot with them is 0).

    Scale contract: ONE BLOCK must fit in executor memory (n·d doubles +
    the n×n score tile) — blocks are LSH buckets / IVF cells / labels,
    which the blocking layer sizes for exactly this. For unblocked exact
    pairs use ``cosine_neardup_pairs`` (no per-group memory requirement).
    """
    # NULL hygiene up front: equi-join semantics (the HOF variant and the
    # SQL oracle) never match NULL blocks, and a NULL vector would make
    # np.stack raise inside the worker — drop both, as the join would.
    df = df.filter(F.col(block_col).isNotNull() & F.col(vec_col).isNotNull())

    def _gemm_group(ids: "np.ndarray", vecs: "np.ndarray") -> pd.DataFrame:
        M = np.stack(vecs).astype(np.float64)
        n = np.linalg.norm(M, axis=1)
        n[n == 0] = 1.0
        Mn = M / n[:, None]
        S = Mn @ Mn.T
        iu, ju = np.triu_indices(len(ids), k=1)
        sims = S[iu, ju]
        mask = sims >= threshold
        a, b = ids[iu[mask]], ids[ju[mask]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": sims[mask]})

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        # Per-LENGTH groups inside the block: a ragged block (mixed
        # vector dims — malformed rows at scale) would crash np.stack,
        # while the HOF twin gives every cross-dim pair a NULL cosine
        # (zip_with pads with null) that the threshold filter drops.
        # GEMM within equal-length groups and nothing across them is
        # exactly that semantics (found by tools/null_probe.py).
        out = [_gemm_group(g[id_col].to_numpy(), g[vec_col].to_numpy())
               for _, g in pdf.groupby(pdf[vec_col].map(len))
               if len(g) >= 2]
        return (pd.concat(out, ignore_index=True) if out
                else pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}))

    # Output id type follows the input id column (string doc ids are as
    # valid as bigints here; a hardcoded bigint would die in the Arrow
    # conversion), mirroring stateful.running_key_stats' key handling.
    id_type = df.schema[id_col].dataType.simpleString()
    return df.groupBy(block_col).applyInPandas(
        _pairs, f"id_a {id_type}, id_b {id_type}, cosine double")


def cosine_neardup_pairs(df: DataFrame, vec_col: str = "embedding",
                         id_col: str = "vec_id", threshold: float = 0.95,
                         block_col: str | None = None) -> DataFrame:
    """Semantic near-duplicates: cosine >= threshold. With ``block_col``
    the join is an equi-join on the block (LSH bucket / IVF cell / label),
    never a full cross join — the exact variant is the oracle.

    Each vector is L2-normalized ONCE per row below the join, so the
    O(pairs) side computes only a dot product — a third of the per-pair
    array passes (measured 3× on the blocked sf0.1 run). Zero-norm vectors
    stay zero (dot = 0.0), preserving the kernel's zero-norm → 0.0 rule."""
    from go_simple_embedding_database_spark.functions.kernels import dot_product, l2_norm

    v = F.col(vec_col).cast("array<double>")
    norm = l2_norm(v)
    normed = F.when(norm == 0.0, v).otherwise(
        F.transform(v, lambda x: x / norm))
    left = df.select(F.col(id_col), normed.alias("_nv"),
                     *([F.col(block_col)] if block_col else []))
    a, b = left.alias("a"), left.alias("b")
    joined = a.join(b, [block_col]) if block_col else a.crossJoin(b)
    return (
        joined.filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            dot_product(F.col("a._nv"), F.col("b._nv")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# -- asymmetric shingle containment -------------------------------------------

def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      threshold: float = 0.9, max_df: int = 50) -> DataFrame:
    """Asymmetric near-duplicate detection by RARE-shingle containment:
    C(a→b) = |R_a ∩ R_b| / |R_a| where R_x is x's set of distinct word
    n-gram shingles that occur in at most ``max_df`` documents corpus-wide.
    Catches quotation/inclusion (a short document embedded in a longer one)
    that symmetric Jaccard misses — the training-data case is a forum post
    quoting an article, or a doc re-released with a preamble. The reference
    has no dedup at all; this extends §2's surface the same way the Jaccard
    family does (SURVEY.md §2 extensions).

    Scale shape (100 TB): an inverted-index build — explode shingles,
    drop grams with document frequency > ``max_df`` (boilerplate n-grams
    that would otherwise create quadratic bucket fanout), self-equi-join
    on the gram. Per-gram join fanout is bounded by ``max_df``² and the
    whole pipeline shuffles on gram/id keys only — never all-pairs; the
    join-output volume is Σ_g df(g)², which under corpus growth with the
    absolute cutoff held fixed grows LINEARLY (more rare grams, bounded
    fanout each). The df-cutoff is part of the operator's SEMANTICS
    (rare-gram containment), so the DuckDB oracle applies the identical
    cutoff and results match exactly.

    Measured alternatives (VERDICT r03 #2 asked for a second key after a
    4.91× wall ratio at 10× in the r03 SCALE probe; all numbers
    best-of-3 on the disjoint-replica probe corpus, sf0.1 base):

    - **Prefix filtering** (the asymmetric SSJoin bound: C(a→b) >= t
      needs |R_a ∩ R_b| >= ceil(t·|R_a|), so a's |R_a|−ceil(t·|R_a|)+1
      rarest grams must hit R_b): candidates = a-prefix ⋈ full index,
      then an exact array-intersect verify. LOSES at every measured
      threshold — 1x 7.3 s / 10x 20.1 s at t=0.5 vs 2.2/6.4 direct
      (prefix keeps ~(1−t) of index rows, so at t=0.5 the candidate set
      ≈ the direct join's output, and the added per-doc rank window +
      pair distinct + wide gram-array attach joins cost more than they
      save); still 3.3/6.5 vs 2.9/6.8 at t=0.9, where the prefix IS
      selective but the extra stages eat the gain. Unlike the symmetric
      Jaccard join (where prefix filtering replaced a quadratic
      length-band candidate set), the direct formulation here is already
      df-bounded — prefix has no quadratic blowup to remove.
    - **Posting-list pair explosion** (groupBy gram → collect ids ≤
      max_df → explode a×b map-side, replacing the self-join's two
      exchanges with one): parity-identical but 16 s at 10× vs 7.4 —
      the double explode inflates rows AFTER the exchange, so the
      generation stage cannot be split by AQE.
    - **SHUFFLE_HASH hint** on the self-join: ~10% at 10× (5.0 vs
      5.5 s) by skipping both sort-merge sorts, REJECTED: hash-join
      build sides are the canonical 100 TB spill risk and the win is
      within probe noise.

    The r03 4.91× record itself is largely probe-session noise: the
    identical direct plan re-measured at 2.7-3.0× across three fresh
    sessions (the probe now takes best-of-3, tools/scale_probe.py).

    Returns (id_a, id_b, containment): fraction of a's rare grams that
    also appear in b, for pairs meeting ``threshold``. Documents with zero
    rare grams (pure boilerplate) produce no rows — no 0/0 pairs.

    Caching contract: the df-filtered inverted index is materialized via
    a lazy localCheckpoint (three consumers read it — both join sides and
    the per-doc sizes; see the inline note). Checkpoint blocks are
    released by the ContextCleaner once the returned DataFrame is
    garbage-collected, so repeated containment passes in one session
    accumulate no pinned storage; at full scale materialize the index to
    a table instead (it is the inverted-index table a production pipeline
    writes anyway).
    """
    from pyspark.sql import Window

    grams = df.select(F.col(id_col).alias("_id"),
                      F.explode(shingles(F.col(text_col), n))
                      .alias("_g"))
    # Document frequency as a count-over-gram window, not a separate
    # aggregate joined back: one shuffle on the gram produces the
    # df-filtered inverted index already PARTITIONED on the join key, so
    # the self-join below adds no exchange. Materialized (lazy
    # localCheckpoint — self-releasing, see docstring) because three
    # consumers read it (both join sides + the per-doc sizes) — without
    # it the shingle explode re-runs per consumer (measured 3× the
    # wall-clock at sf0.1).
    rg = (grams
          .withColumn("_df", F.count("*").over(Window.partitionBy("_g")))
          .filter(F.col("_df") <= max_df)
          .select("_id", "_g").localCheckpoint(eager=False))
    sizes = rg.groupBy("_id").agg(F.count("*").alias("_n_rare"))
    a = rg.select(F.col("_id").alias("id_a"), "_g")
    b = rg.select(F.col("_id").alias("id_b"), "_g")
    inter = (a.join(b, "_g")
             .filter(F.col("id_a") != F.col("id_b"))
             .groupBy("id_a", "id_b").agg(F.count("*").alias("_n_common")))
    return (inter.join(sizes.withColumnRenamed("_id", "id_a"), "id_a")
            .withColumn("containment",
                        F.col("_n_common") / F.col("_n_rare"))
            .filter(F.col("containment") >= threshold)
            .select("id_a", "id_b", "containment"))


def containment_pairs_sql(table: str = "documents", text_expr: str = "text",
                          id_expr: str = "doc_id", n: int = 3,
                          threshold: float = 0.9, max_df: int = 50) -> str:
    """DuckDB twin of ``containment_pairs`` — identical gram recipe
    (``shingles_sql``), identical df cutoff, identical ratio."""
    sh = shingles_sql(text_expr, n)
    return f"""
WITH grams AS (
  SELECT {id_expr} AS _id, unnest({sh}) AS _g FROM {table}),
rare AS (
  SELECT _g FROM grams GROUP BY _g HAVING count(*) <= {max_df}),
rg AS (SELECT _id, grams._g FROM grams JOIN rare ON grams._g = rare._g),
sizes AS (SELECT _id, count(*) AS _n_rare FROM rg GROUP BY _id),
inter AS (
  SELECT a._id AS id_a, b._id AS id_b, count(*) AS _n_common
  FROM rg a JOIN rg b ON a._g = b._g AND a._id <> b._id
  GROUP BY a._id, b._id)
SELECT id_a, id_b, CAST(_n_common AS DOUBLE) / _n_rare AS containment
FROM inter JOIN sizes ON inter.id_a = sizes._id
WHERE CAST(_n_common AS DOUBLE) / _n_rare >= {threshold}
"""


def prefix_truncation_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", min_len: int = 64,
                            max_bucket: int = 50) -> DataFrame:
    """Truncation duplicates: pairs (id_a, id_b) where a's FULL text is a
    proper character prefix of b's — the training-data case of the same
    article captured once complete and once cut off (feed truncation,
    snippet extraction, a crawler's byte limit). Exact-hash dedup misses
    these (different hashes) and shingle Jaccard under-scores them when
    the tail dominates; containment catches quotation but pays an
    inverted-index pass for what is, for pure truncation, a single
    equi-join. No counterpart in the reference (544-LoC surface has no
    dedup — SURVEY.md §2 extensions, like the rest of the family).

    Scale shape (100 TB): bucket on the first ``min_len`` characters —
    any (short, long) truncation pair shares that key because
    len(short) >= min_len. One count-over-key window drops boilerplate
    buckets with more than ``max_bucket`` members (the same
    bounded-fanout role as containment's max_df: per-bucket join output
    <= max_bucket², so total join volume is linear in corpus size at
    fixed cutoff), then a self-equi-join on the key verifies the full
    prefix with one dynamic-length substring comparison. Shuffles on the
    key only — never all-pairs; docs shorter than ``min_len`` cannot
    anchor a bucket and are excluded (a 3-char doc is a 'prefix' of half
    the corpus — noise, not duplication).

    Returns (id_a, id_b, len_a, len_b, prefix_frac): a's full length over
    b's, i.e. how much of b the truncated copy retains."""
    return _affix_truncation_pairs(df, text_col, id_col, min_len,
                                   max_bucket, suffix=False)


def suffix_truncation_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", min_len: int = 64,
                            max_bucket: int = 50) -> DataFrame:
    """The mirror of ``prefix_truncation_pairs``: a's full text is a
    proper character SUFFIX of b's — the prepended-boilerplate duplicate
    (the same article captured bare and with a header/banner/preamble
    glued on, the other common crawler shape). Bucket key = the LAST
    ``min_len`` characters; verify = one dynamic-length ``right``
    comparison; identical bounded-fanout guarantees. Same output schema
    with ``suffix_frac`` in place of ``prefix_frac``."""
    return _affix_truncation_pairs(df, text_col, id_col, min_len,
                                   max_bucket, suffix=True)


def _affix_truncation_pairs(df: DataFrame, text_col: str, id_col: str,
                            min_len: int, max_bucket: int,
                            suffix: bool) -> DataFrame:
    """Shared engine for prefix/suffix truncation pairs — the two differ
    only in which end anchors the bucket key and the verify expression
    (both ``substring``/``right`` count CHARACTERS, matching DuckDB)."""
    from pyspark.sql import Window

    key = (F.expr(f"right(_t, {min_len})") if suffix
           else F.substring("_t", 1, min_len))
    verify = (F.expr("right(_tb, len_a)") if suffix
              else F.expr("substring(_tb, 1, len_a)"))
    d = (df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
         .withColumn("_len", F.length("_t"))
         .filter(F.col("_len") >= min_len)
         .withColumn("_k", key))
    # Materialize the bucket-filtered relation (lazy localCheckpoint —
    # self-releasing, the containment_pairs contract): BOTH self-join
    # sides read it, and without it each side re-scans the corpus and
    # re-runs the count-over-key window — two full passes where one
    # suffices.
    keyed = (d.withColumn("_n", F.count("*").over(Window.partitionBy("_k")))
             .filter(F.col("_n") <= max_bucket).drop("_n")
             .localCheckpoint(eager=False))
    a = keyed.select(F.col("_id").alias("id_a"), F.col("_t").alias("_ta"),
                     F.col("_len").alias("len_a"), "_k")
    b = keyed.select(F.col("_id").alias("id_b"), F.col("_t").alias("_tb"),
                     F.col("_len").alias("len_b"), "_k")
    frac = "suffix_frac" if suffix else "prefix_frac"
    return (a.join(b, "_k")
            .filter((F.col("len_b") > F.col("len_a"))
                    & (verify == F.col("_ta")))
            .select("id_a", "id_b", "len_a", "len_b",
                    F.round(F.col("len_a") / F.col("len_b"), 6)
                    .alias(frac)))


def prefix_truncation_pairs_sql(table: str = "documents",
                                text_expr: str = "text",
                                id_expr: str = "doc_id", min_len: int = 64,
                                max_bucket: int = 50) -> str:
    """DuckDB twin of ``prefix_truncation_pairs`` — identical key,
    identical bucket cutoff, identical dynamic-length prefix check (both
    engines' length/substring count CHARACTERS, pinned by the Unicode
    probe rows)."""
    return _affix_truncation_pairs_sql(table, text_expr, id_expr, min_len,
                                       max_bucket, suffix=False)


def suffix_truncation_pairs_sql(table: str = "documents",
                                text_expr: str = "text",
                                id_expr: str = "doc_id", min_len: int = 64,
                                max_bucket: int = 50) -> str:
    """DuckDB twin of ``suffix_truncation_pairs`` (``right`` counts
    characters in both engines)."""
    return _affix_truncation_pairs_sql(table, text_expr, id_expr, min_len,
                                       max_bucket, suffix=True)


def _affix_truncation_pairs_sql(table: str, text_expr: str, id_expr: str,
                                min_len: int, max_bucket: int,
                                suffix: bool) -> str:
    key = (f"right({text_expr}, {min_len})" if suffix
           else f"substr({text_expr}, 1, {min_len})")
    verify = ("right(b._t, a._len) = a._t" if suffix
              else "substr(b._t, 1, a._len) = a._t")
    frac = "suffix_frac" if suffix else "prefix_frac"
    return f"""
WITH d AS (
  SELECT {id_expr} AS _id, {text_expr} AS _t, length({text_expr}) AS _len,
         {key} AS _k
  FROM {table} WHERE length({text_expr}) >= {min_len}),
keyed AS (
  SELECT * FROM (
    SELECT d.*, count(*) OVER (PARTITION BY _k) AS _n FROM d) _b
  WHERE _n <= {max_bucket})
SELECT a._id AS id_a, b._id AS id_b, a._len AS len_a, b._len AS len_b,
       round(CAST(a._len AS DOUBLE) / b._len, 6) AS {frac}
FROM keyed a JOIN keyed b ON a._k = b._k
WHERE b._len > a._len AND {verify}
"""


# -- duplicated token-span statistics -----------------------------------------

def duplicated_span_stats(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 5) -> DataFrame:
    """Per-document contamination by CROSS-DOCUMENT duplicated spans:
    how many of a document's word n-gram spans also occur in at least one
    OTHER document. The per-doc fraction is the curation signal — docs
    dominated by spans seen elsewhere are templates, mirrors or spam, and
    exact-substring dedup (Lee et al. 2021) would cut those spans.

    The spans are ``ngram_bag``'s grams — position order, duplicates
    kept — the unit of exact-substring dedup (Lee et al. 2021: repeated
    long spans across a corpus are memorization fuel).

    Scale shape: explode the spans once; collapse to distinct
    (span, doc) pairs with the per-doc occurrence count in ONE hash agg;
    a count-over-span window on that collapsed relation (rows = distinct
    docs) yields each span's document frequency without a second explode
    or a self-join; one final per-doc agg. Shuffles carry span hashes and
    counts — never the text twice. Intra-doc repeats count toward
    ``n_spans`` but only cross-doc presence marks a span duplicated.

    Returns (id_col, n_spans, n_dup_spans, dup_frac) for every input
    doc. NULL/blank docs yield zero spans under the r10 degenerate-
    document convention and are restored by a corpus left join as
    0/0 → dup_frac 0.0 (nothing duplicated in an empty doc) — a
    contamination scorer that silently drops unparseable docs corrupts
    downstream budget arithmetic, the dsir_weights lesson.
    """
    from pyspark.sql import Window

    spans = df.select(F.col(id_col).alias("_id"),
                      F.explode(ngram_bag(F.col(text_col), n))
                      .alias("_g"))
    per_doc_gram = spans.groupBy("_id", "_g").agg(F.count("*").alias("_m"))
    marked = per_doc_gram.withColumn(
        "_ndocs", F.count("*").over(Window.partitionBy("_g")))
    out = (marked.groupBy("_id")
           .agg(F.sum("_m").alias("n_spans"),
                F.sum(F.when(F.col("_ndocs") >= 2, F.col("_m"))
                      .otherwise(F.lit(0))).alias("n_dup_spans")))
    spine = df.select(F.col(id_col).alias("_id"))
    return (spine.join(out, "_id", "left")
            .select(
                F.col("_id").alias(id_col),
                F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
                F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
                F.coalesce(
                    F.round(F.col("n_dup_spans").cast("double") /
                            F.col("n_spans").cast("double"), 6),
                    F.lit(0.0)).alias("dup_frac")))


def duplicated_span_stats_sql(table: str = "documents",
                              text_expr: str = "text",
                              id_expr: str = "doc_id", n: int = 5) -> str:
    """DuckDB twin of ``duplicated_span_stats`` — identical span recipe,
    identical cross-doc rule, identical rounding.

    Output sums are cast to BIGINT: DuckDB ``sum(BIGINT)`` is HUGEINT,
    whose client conversion varies across DuckDB versions — never expose
    it in an oracle output column (tests/test_oracle_types.py).
    ``dup_frac`` is safe as a double: both engines divide the same two
    exact integers (correctly-rounded IEEE op → bit-identical input to
    round-6), so no fold-order hazard exists.
    """
    sp = ngram_bag_sql(text_expr, n)
    return f"""
WITH spans AS (
  SELECT {id_expr} AS _id, unnest({sp}) AS _g FROM {table}),
pdg AS (
  SELECT _id, _g, count(*) AS _m FROM spans GROUP BY _id, _g),
marked AS (
  SELECT _id, _m, count(*) OVER (PARTITION BY _g) AS _ndocs FROM pdg),
agg AS (
  SELECT _id, CAST(sum(_m) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN _ndocs >= 2 THEN _m ELSE 0 END) AS BIGINT)
           AS n_dup_spans
  FROM marked GROUP BY _id),
spine AS (SELECT {id_expr} AS _id FROM {table})
SELECT spine._id AS {id_expr},
       COALESCE(n_spans, 0) AS n_spans,
       COALESCE(n_dup_spans, 0) AS n_dup_spans,
       COALESCE(round(CAST(n_dup_spans AS DOUBLE)
                      / CAST(n_spans AS DOUBLE), 6), 0.0) AS dup_frac
FROM spine LEFT JOIN agg ON spine._id = agg._id
"""


# -- incremental (batch-vs-corpus) near-dup -----------------------------------

def probe_band_index(new_docs: DataFrame, band_index: DataFrame,
                     corpus: DataFrame, threshold: float = 0.7,
                     text_col: str = "text", id_col: str = "doc_id",
                     num_hashes: int = 12, bands: int = 4,
                     n: int = 3) -> DataFrame:
    """Incremental near-dup: which documents of a NEW batch near-duplicate
    something already in the corpus. The ingestion-time shape at 100 TB —
    the corpus is NEVER re-shingled: its band index (``lsh_bands`` output,
    written once and maintained incrementally; the streaming twin is
    ``streaming.ingest``'s index maintenance) is probed by the new batch's
    bands via an equi-join on (band, key).

    Verification cost follows the CANDIDATES, not the corpus: only corpus
    documents that collided in some bucket get their shingle set
    recomputed (a semi-join pulls exactly those texts). Per-side shingles
    are computed once per involved document, then exact Jaccard filters
    the LSH false positives, same discipline as ``minhash_dedup``.

    Returns (new_id, corpus_id, jaccard) with jaccard >= threshold; a
    document id may legitimately appear on both sides of an id-partitioned
    corpus split, so the pair keeps both columns rather than collapsing to
    id_a < id_b.
    """
    new_bands = lsh_bands(new_docs, text_col, id_col, num_hashes, bands, n)
    idx = band_index.select(F.col(id_col).alias("_corpus_id"),
                            "band", "key")
    # THREE consumers read the candidate relation (each verify side's
    # semi-join and the final scoring join); unmaterialized, each would
    # re-run the whole band probe INCLUDING the new batch's signature
    # UDF (measured 3x the signature cost at sf0.1). Bounded by the
    # collision count, so it is the small relation of the query.
    # localCheckpoint (lazy), NOT persist: persist() pins a CacheManager
    # entry until an explicit unpersist, which leaks one cached relation
    # per call for repeated callers (streaming_dedup_ingest probes every
    # micro-batch) — checkpoint blocks are owned by the RDD and freed by
    # the ContextCleaner when the result goes out of scope. Trade-off:
    # lineage is truncated, so lost blocks recompute from the checkpoint
    # only — acceptable for a relation consumed within one job.
    cand = (new_bands.withColumnRenamed(id_col, "_new_id")
            .join(idx, ["band", "key"])
            .select("_new_id", "_corpus_id").distinct()
            .localCheckpoint(eager=False))

    new_sh = (new_docs
              .join(cand.select("_new_id").distinct(),
                    F.col(id_col) == F.col("_new_id"), "leftsemi")
              .select(F.col(id_col).alias("_new_id"),
                      shingles(F.col(text_col), n).alias("_sa")))
    corp_sh = (corpus
               .join(cand.select("_corpus_id").distinct(),
                     F.col(id_col) == F.col("_corpus_id"), "leftsemi")
               .select(F.col(id_col).alias("_corpus_id"),
                       shingles(F.col(text_col), n).alias("_sb")))
    scored = (cand.join(new_sh, "_new_id").join(corp_sh, "_corpus_id")
              .select(F.col("_new_id").alias("new_id"),
                      F.col("_corpus_id").alias("corpus_id"),
                      jaccard_from_shingle_arrays(
                          F.col("_sa"), F.col("_sb")).alias("jaccard")))
    return scored.filter(F.col("jaccard") >= threshold)
