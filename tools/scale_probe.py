"""Scaling probe: time flagship operators at 1x and 10x the bench data.

The 100 TB argument in README/PLANS is plan-shape reasoning; this tool
adds measurement: it synthesizes a 10x copy of the sf0.1 documents and
embeddings tables (id-offset replicas — same distributions, same dup
structure) under a scratch dir, runs each flagship operator at both
scales on identical session settings, and prints the time ratio. An
operator whose plan is genuinely linear-ish should land near 10x (or
below, where fixed per-job overhead dominates the 1x number); anything
super-linear is a red flag the per-round bench would never catch.

Usage: python tools/scale_probe.py  (writes nothing to the repo; scratch
data goes under /tmp and is removed on exit)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = int(os.environ.get("SPARK_GRAFT_SCALE_REPLICAS", "10"))
# The deep tier (VERDICT r03 #6): the dedup/ANN pair family re-probed at
# 100x, where a banding scheme whose selectivity merely SURVIVES 10x can
# still collapse (bucket populations grow linearly, within-bucket
# candidates quadratically).
DEEP_REPLICAS = int(os.environ.get("SPARK_GRAFT_SCALE_DEEP_REPLICAS", "100"))


def _timed_best(spark, fn, runs=2):
    """min-of-N timed runs, spread kept (VERDICT r07 #2: SCALE's wall
    ratios must be draw-robust the way bench.py's min-sum protocol is —
    the round-7 ngram_novelty deep ratio moved 8.49 -> 18.23 between two
    same-code draws because both numerator and denominator were single
    draws). Returns (best_sec, [every run]) so each SCALE row carries
    its own draw count and spread."""
    times = []
    for _ in range(max(1, runs)):
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        t0 = time.perf_counter()
        fn()
        times.append(round(time.perf_counter() - t0, 3))
    return min(times), times


def _exchange_metrics(df) -> dict:
    """Engine-measured shuffle-exchange metrics (VERDICT r07 #3): Spark's
    own SQL metrics off the final AQE plan — the load-invariant record of
    what each exchange moved, where wall time on this box is
    draw-unstable and a hand-derived row ratio can describe a plan that
    never ran. Delegates to the library's public audit utility
    (``plans.exchange_metrics``) so the probe and the tests measure with
    exactly one implementation."""
    from go_simple_embedding_database_spark.plans import exchange_metrics
    return exchange_metrics(df)


def _synthesize(spark, out_dir: str) -> None:
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_doc = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    n_vec = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    reps = spark.range(REPLICAS).select(F.col("id").alias("_r"))
    (docs.crossJoin(reps)
     .select((F.col("doc_id") + F.col("_r") * n_doc).alias("doc_id"),
             "text", "lang", "source", "n_chars")
     .repartition(32)
     .write.mode("overwrite").parquet(f"{out_dir}/documents.parquet"))
    (emb.crossJoin(reps)
     .select((F.col("vec_id") + F.col("_r") * n_vec).alias("vec_id"),
             "embedding", "label")
     .repartition(32)
     .write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet"))


def _synthesize_disjoint(spark, out_dir: str, replicas: int) -> None:
    """10x documents whose replicas are pairwise DISSIMILAR: every word is
    prefixed with its replica tag (an injective per-replica token rename),
    so within-replica shingle/minhash/simhash similarity structure is
    isomorphic to the original corpus while cross-replica shingle sets
    are disjoint. Pair-producing dedup operators then emit ~REPLICASx the
    original pairs — linear output — and their time ratio measures the
    PLAN, which exact-copy replication (quadratic cross-replica pairs)
    cannot."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_doc = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = spark.range(replicas).select(F.col("id").alias("_r"))
    tagged = F.array_join(
        F.transform(F.split(F.col("text"), " "),
                    lambda w: F.concat(F.lit("r"), F.col("_r").cast("string"),
                                       F.lit("·"), w)), " ")
    (docs.crossJoin(reps)
     .select((F.col("doc_id") + F.col("_r") * n_doc).alias("doc_id"),
             tagged.alias("text"), "lang", "source")
     .withColumn("n_chars", F.length("text"))
     .repartition(32)
     .write.mode("overwrite").parquet(f"{out_dir}/documents.parquet"))


def _pair_flagships():
    """Pair-producing near-dup operators, probed against the disjoint-
    replica corpus (see _synthesize_disjoint). Linear-output there, so the
    10x ratio measures the banded-join plans the 100 TB story leans on."""
    import __spark_entry__ as em
    q = em.queries()
    return {
        "dedup_minhash": q["dedup_minhash"],
        "dedup_jaccard": q["dedup_jaccard"],
        "dedup_simhash_pairs": q["dedup_simhash_pairs"],
        "dedup_containment": q["dedup_containment"],
        # char-prefix pairs survive the per-word tag rename (a doc cut
        # mid-word stays a char-prefix after every word gains the same
        # replica tag), so replicas contribute linear pair output here too
        "dedup_prefix": q["dedup_prefix"],
        # not pair-producing (1 row/doc) but it belongs to THIS corpus:
        # word-tagged replicas carry disjoint shingle sets, so the
        # vocabulary build side grows with the corpus — the regime the
        # 10x exact-copy tier could not exercise (there the vocabulary
        # stayed 1x) and the family's round-6 watch-item (VERDICT r06
        # #3: 10x ratio 4.8 measured against a fixed build side)
        "ngram_novelty": q["ngram_novelty"],
    }


def _synthesize_docs_copies(spark, out_dir: str, replicas: int) -> None:
    """Exact-copy documents (id-offset replicas) — for fixed-k scan
    operators (bm25_search) whose output size does not depend on pair
    structure, so copy replication cannot inflate it."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_doc = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = spark.range(replicas).select(F.col("id").alias("_r"))
    (docs.crossJoin(reps)
     .select((F.col("doc_id") + F.col("_r") * n_doc).alias("doc_id"),
             "text", "lang", "source", "n_chars")
     .repartition(64)
     .write.mode("overwrite").parquet(f"{out_dir}/documents.parquet"))


def _synthesize_perm_embeddings(spark, out_dir: str, replicas: int) -> None:
    """Replicated embeddings under a per-replica SIGNED COORDINATE
    PERMUTATION: within each replica the map is an isometry (cosine
    preserved exactly — replica-internal near-dup structure is that of
    the original corpus), while cross-replica similarities are
    sign-scrambled toward 0, so near-dup pair output stays ~linear in
    replicas (the embedding-space twin of _synthesize_disjoint's word
    tagging). Replica 0 is the identity; permutations/signs are seeded
    per replica (deterministic). vec_id stride 10**7 keeps any fixture
    id arithmetic (e.g. the +100000 planted-copy offset) collision-free."""
    import random

    from pyspark.sql import functions as F
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vec_type = emb.schema["embedding"].dataType
    dim = len(emb.select("embedding").first()[0])
    rows = []
    for r in range(replicas):
        if r == 0:
            perm, signs = list(range(dim)), [1.0] * dim
        else:
            rng = random.Random(f"emb-perm-{r}")
            perm = list(range(dim))
            rng.shuffle(perm)
            signs = [rng.choice([-1.0, 1.0]) for _ in range(dim)]
        rows.append((r, perm, signs))
    reps = spark.createDataFrame(
        rows, "_r long, _perm array<int>, _signs array<double>")
    permuted = F.expr(
        f"transform(sequence(1, {dim}), i -> "
        f"element_at(embedding, element_at(_perm, i) + 1)"
        f" * element_at(_signs, i))").cast(vec_type)
    (emb.crossJoin(F.broadcast(reps))
     .select((F.col("vec_id") + F.col("_r") * 10**7).alias("vec_id"),
             permuted.alias("embedding"), "label")
     .repartition(64)
     .write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet"))


def _deep_scan_flagships():
    """Fixed-output scan/sketch operators probed to 100x on exact-copy
    documents (bm25: top-15 whatever the corpus size) and the SemDeDup
    pair stage on signed-permutation embedding replicas.

    semantic_gemm_cells probes the OPERATOR at its contract's operating
    point — SemDeDup chooses k so cells stay small, so the probe holds
    the cell population ~constant (hash cells, k ∝ corpus) and measures
    the per-cell GEMM pair stage. The gate query's fixed k=8 would grow
    cells 100x and the GEMM quadratically — a property of the fixture's
    configuration, not of the plan (the kmeans FIT's own scaling is
    probed by kmeans_cells in the flagship family; assignment against
    k ∝ N centroids is the IVF routing problem, probed by ann_ivf)."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    from go_simple_embedding_database_spark.operators.dedup import (
        cosine_neardup_pairs_gemm)

    def semantic_gemm(spark, d):
        emb = (spark.read.parquet(f"{d}/embeddings.parquet")
               .select("vec_id",
                       F.col("embedding").cast("array<double>")
                       .alias("embedding")))
        n_cells = max(1, emb.count() // 250)
        cells = emb.withColumn(
            "cluster_id", F.pmod(F.xxhash64("vec_id"), F.lit(n_cells)))
        # threshold 0.35 ≈ 2.8σ of a random 64-dim cosine (σ = 1/8): a
        # fraction of a percent of in-cell pairs clear it, so rows_NX is
        # NONZERO and must scale ~linearly with the corpus (cells ∝ N,
        # cell size constant) — the 0.98 production default emits zero
        # pairs on random vectors, proving nothing about output volume
        return cosine_neardup_pairs_gemm(
            cells, vec_col="embedding", id_col="vec_id", threshold=0.35,
            block_col="cluster_id")

    return {"bm25_search": em.queries()["bm25_search"]}, \
        {"semantic_gemm_cells": semantic_gemm}


def _containment_sweep(spark, dirs, cutoffs=(5, 10, 25, 50),
                       threshold=0.5):
    """df-cutoff headroom sweep for containment_pairs (VERDICT r05 #4):
    the family's worst 100x scaler runs in a LINEAR join-volume regime at
    the fixed default cutoff — this measures, per corpus scale and per
    cutoff, the three quantities that bound it instead of asserting them:

    - ``join_volume``: Σ_{g: df(g) <= c} df(g)² — the self-join's exact
      candidate-pair count, computed from one gram-df aggregation;
    - ``pairs`` + ``sec``: output volume and wall time (min-of-2 timed
      runs per cutoff, both runs recorded — VERDICT r07 #2). The timed
      sink is a parquet write (the pair sets feed the recall join below),
      so sweep times are comparable within the sweep, not with
      pair_results;
    - ``recall_vs_df<max>``: fraction of the most-permissive cutoff's
      pairs recovered at cutoff c — what the cutoff COSTS, so the
      volume/recall trade as the corpus grows is on the record.

    Default cutoffs bracket the corpus's df distribution from BELOW the
    operator default (50): the sf0.1-derived probe corpora top out at
    per-replica df = 25 (measured), so cutoffs above that are all
    equivalent to 'keep everything' and only the 5/10 rungs exercise the
    volume/recall trade; 50 is the production default and the recall
    reference.
    """
    from pyspark.sql import functions as F

    from go_simple_embedding_database_spark.functions.text import shingles
    from go_simple_embedding_database_spark.operators.dedup import (
        containment_pairs)

    ref_c = max(cutoffs)
    out = {"cutoffs": list(cutoffs), "threshold": threshold,
           "timed_runs": 2, "note": "timed sink = parquet write; "
                                    "sec = min of runs (runs recorded)"}
    for label, d in dirs:
        docs = spark.read.parquet(f"{d}/documents.parquet")
        dfs = (docs.select(F.explode(shingles(F.col("text"), 3)).alias("_g"))
               .groupBy("_g").agg(F.count("*").alias("_df")))
        vol = dfs.agg(*[
            F.sum(F.when(F.col("_df") <= c, F.col("_df") * F.col("_df")))
            .alias(f"v{c}") for c in cutoffs]).collect()[0]
        entry = {}
        scratch = tempfile.mkdtemp(prefix="gsed_cont_sweep_")
        try:
            for c in cutoffs:
                best, runs = _timed_best(spark, lambda: (
                    containment_pairs(docs, threshold=threshold, max_df=c)
                    .write.mode("overwrite").parquet(f"{scratch}/c{c}")))
                entry[f"cutoff_{c}"] = {
                    "sec": best, "runs": runs,
                    "pairs": spark.read.parquet(f"{scratch}/c{c}").count(),
                    "join_volume": int(vol[f"v{c}"] or 0),
                }
            ref = spark.read.parquet(f"{scratch}/c{ref_c}")
            ref_n = ref.count()
            for c in cutoffs:
                inter = (spark.read.parquet(f"{scratch}/c{c}")
                         .join(ref.select("id_a", "id_b"), ["id_a", "id_b"])
                         .count())
                entry[f"cutoff_{c}"][f"recall_vs_df{ref_c}"] = (
                    round(inter / ref_n, 4) if ref_n else None)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        out[label] = entry
        print(f"containment_sweep {label}: "
              + " ".join(f"df<={c}: {entry[f'cutoff_{c}']}" for c in cutoffs),
              flush=True)
    return out


def _prefix_sweep(spark, dirs, cutoffs=(1, 2, 3, 50), min_len=64):
    """max_bucket headroom sweep for prefix_truncation_pairs (VERDICT r06
    #4) — the guard drops WHOLE buckets above the cutoff, so unlike
    containment's df filter its cost is unmeasured until swept. Per
    corpus scale and per cutoff:

    - ``join_volume``: Σ_{k: n(k) <= c} n(k)² over first-``min_len``-char
      bucket keys (docs >= min_len chars) — the self-join's exact
      candidate count, from one key-count aggregation;
    - ``dropped_docs``: how many docs the cutoff removes from the join
      entirely (the guard's blast radius, not just its recall);
    - ``pairs`` + ``sec``: output volume and wall time (min-of-2 timed
      runs, both recorded, parquet-write sink — same protocol as
      containment_sweep);
    - ``recall_vs_b<max>``: fraction of the most-permissive cutoff's
      pairs recovered at cutoff c.

    Default cutoffs bracket the corpus's bucket-size distribution from
    BELOW the production default (50): the sf0.1-derived probe corpora's
    prefix buckets top out at 4 members per replica (measured: 4415/218/
    7/1 buckets of size 1/2/3/4), so every cutoff >= 4 is 'keep
    everything' and only the 1/2/3 rungs exercise the volume/recall/
    drop trade; 50 is the production default and the recall reference
    (the same lower-the-rungs reading round 6 applied to containment's
    df sweep)."""
    from pyspark.sql import functions as F

    from go_simple_embedding_database_spark.operators.dedup import (
        prefix_truncation_pairs)

    ref_c = max(cutoffs)
    out = {"cutoffs": list(cutoffs), "min_len": min_len, "timed_runs": 2,
           "note": "timed sink = parquet write; sec = min of runs "
                   "(runs recorded)"}
    for label, d in dirs:
        docs = spark.read.parquet(f"{d}/documents.parquet")
        counts = (docs.filter(F.length("text") >= min_len)
                  .groupBy(F.substring("text", 1, min_len).alias("_k"))
                  .agg(F.count("*").alias("_n")))
        stats = counts.agg(*(
            [F.sum(F.when(F.col("_n") <= c, F.col("_n") * F.col("_n")))
             .alias(f"v{c}") for c in cutoffs]
            + [F.sum(F.when(F.col("_n") > c, F.col("_n"))).alias(f"d{c}")
               for c in cutoffs])).collect()[0]
        entry = {}
        scratch = tempfile.mkdtemp(prefix="gsed_prefix_sweep_")
        try:
            for c in cutoffs:
                best, runs = _timed_best(spark, lambda: (
                    prefix_truncation_pairs(docs, min_len=min_len,
                                            max_bucket=c)
                    .write.mode("overwrite").parquet(f"{scratch}/b{c}")))
                entry[f"bucket_{c}"] = {
                    "sec": best, "runs": runs,
                    "pairs": spark.read.parquet(f"{scratch}/b{c}").count(),
                    "join_volume": int(stats[f"v{c}"] or 0),
                    "dropped_docs": int(stats[f"d{c}"] or 0),
                }
            ref = spark.read.parquet(f"{scratch}/b{ref_c}")
            ref_n = ref.count()
            for c in cutoffs:
                inter = (spark.read.parquet(f"{scratch}/b{c}")
                         .join(ref.select("id_a", "id_b"), ["id_a", "id_b"])
                         .count())
                entry[f"bucket_{c}"][f"recall_vs_b{ref_c}"] = (
                    round(inter / ref_n, 4) if ref_n else None)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        out[label] = entry
        print(f"prefix_sweep {label}: "
              + " ".join(f"b<={c}: {entry[f'bucket_{c}']}" for c in cutoffs),
              flush=True)
    return out


def _ann_deep(spark, dir_1x: str, dir_100x: str, replicas: int) -> dict:
    """Deep tier for the ANN query family (VERDICT r06 #3), probed at the
    operating point a scaled corpus demands — the gate queries' fixture
    configs (8 centroids, 8 hyperplanes) are sized for 2k vectors, and
    holding them fixed at 100x would measure a deliberately-wrong
    configuration (fixed 256 LSH buckets go quadratic; fixed 8 IVF cells
    grow 100x per probe):

    - IVF: n_centroids ∝ √N (the balanced sizing — probe-scan and
      centroid-ranking both grow √N). Build timed separately (the
      assignment pass is the one-time cost the index amortizes); query =
      min-of-3 on the built index (every run recorded — VERDICT r07 #2),
      k=5 output rows fixed.
    - sign-LSH join: planes = base + log2(scale) keeps expected bucket
      occupancy constant, so candidate pairs stay ~linear in N — the
      production rule (bucket count must track N).
    - quantized: copy build timed separately; two-stage top-10 query on
      the int8 copy, linear candidate scan.

    Data: signed-permutation embedding replicas (cosine structure
    preserved within a replica, cross-replica ~0)."""
    from pyspark.sql import functions as F

    from go_simple_embedding_database_spark.operators import ann

    def timed(fn, runs=3, spread=None, key=None):
        best, all_runs = _timed_best(spark, fn, runs)
        if spread is not None and key is not None:
            spread[key] = all_runs
        return best

    out = {}
    scratch = tempfile.mkdtemp(prefix="gsed_ann_deep_")
    try:
        rows_sink = {}

        def run(df):
            df.select(F.count(F.coalesce(
                F.col(df.columns[0]).cast("string"), F.lit("")))).collect()

        for label, d, scale in (("1x", dir_1x, 1),
                                (f"{replicas}x", dir_100x, replicas)):
            src = f"{d}/embeddings.parquet"
            emb = spark.read.parquet(src)
            n = emb.count()
            qvec = [float(x) for x in
                    emb.filter(F.col("vec_id") == 0).first()["embedding"]]

            # IVF — k ∝ √N, nprobe fixed
            k_cells = max(8, int(round((n / 30) ** 0.5)))
            idx = f"{scratch}/ivf_{label}"
            ivf = out.setdefault("ann_ivf", {})
            build = timed(lambda: ann.ensure_ivf_index(
                spark, src, idx, n_centroids=k_cells,
                fingerprint=f"probe-{label}"), runs=1)
            ivf[label] = timed(
                lambda: run(ann.ivf_query_index(spark, idx, qvec, 5,
                                                nprobe=2)),
                spread=ivf, key=f"runs_{label}")
            ivf[f"build_sec_{label}"] = build
            ivf[f"n_centroids_{label}"] = k_cells
            ivf[f"rows_{label}"] = ann.ivf_query_index(
                spark, idx, qvec, 5, nprobe=2).count()

            # sign-LSH join — planes track log2(N)
            planes_n = 8 + max(0, round(math.log2(scale)))
            planes = ann.hyperplanes_from_seed(planes_n, len(qvec))
            lsh = lambda: ann.lsh_similarity_join(
                emb.select("vec_id", "embedding"), planes)
            lshr = out.setdefault("ann_lsh_join", {})
            lshr[label] = timed(lambda: run(lsh()),
                                spread=lshr, key=f"runs_{label}")
            lshr[f"planes_{label}"] = planes_n
            lshr[f"rows_{label}"] = lsh().count()

            # quantized two-stage — linear int8 candidate scan
            qidx = f"{scratch}/quant_{label}"
            quant = out.setdefault("ann_quantized", {})
            build = timed(lambda: ann.ensure_quantized_copy(
                spark, src, qidx, fingerprint=f"probe-{label}"), runs=1)
            qt = lambda: ann.quantized_topk_indexed(
                spark, qidx, emb, qvec, 10, rescore_factor=4)
            quant[label] = timed(lambda: run(qt()),
                                 spread=quant, key=f"runs_{label}")
            quant[f"build_sec_{label}"] = build
            quant[f"rows_{label}"] = qt().count()

        dlabel = f"{replicas}x"
        for name, rec in out.items():
            rec[f"ratio_{dlabel}"] = round(rec[dlabel] / rec["1x"], 2)
            print(f"ann_deep {name}: 1x={rec['1x']}s {dlabel}={rec[dlabel]}s "
                  f"ratio={rec[f'ratio_{dlabel}']} "
                  f"rows={rec['rows_1x']}->{rec[f'rows_{dlabel}']}",
                  flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return out


def _bloom_ab(spark, dirs) -> dict:
    """Bloom prune vs plain join, in the regime the operator exists for:
    broadcast joins DISABLED (autoBroadcastJoinThreshold=-1), so the
    plain join is a sort-merge that shuffles every fact row, while the
    bloom path shuffles only the ~1% (+fp) survivors. At gate SF the dim
    broadcasts anyway and the bloom is pure overhead — this measures the
    big-dim/selective-predicate case honestly instead of letting the
    gate query's BroadcastHashJoin imply the win. Best-of-2 per side;
    rows recorded to prove both sides compute the identical result.

    Reading the result honestly: at local-mode SFs the plain SMJ WINS on
    wall time (its shuffle is in-memory and costs milliseconds, while
    the bloom path pays two extra jobs — key sizing + bitset build —
    and 5 xxhash64 probes per fact row). The durable 100 TB evidence is
    the EXCHANGE metrics (VERDICT r07 #3): both plans are executed once
    with Spark's own SQL metrics read off the final AQE plan
    (``exchange_plain`` / ``exchange_bloom``: shuffle records + bytes,
    totals and per-exchange), so the shuffle-row reduction is the
    engine's measurement, not a hand-derived row ratio. The bloom side's
    totals INCLUDE its bitset-build exchange (<= num_bits/64 word rows)
    — the honest all-in cost. On a network-shuffle cluster that
    records/bytes ratio IS the win, and it is load-invariant where wall
    time on this box is not. Wall times are min-of-3, runs recorded.

    Fixture note (round-8 finding, caught BY the engine metrics): the
    round-7 fixture selected dim keys with ``doc_id % 101 == 0`` — a
    predicate on the join key itself, which Catalyst's
    InferFiltersFromConstraints propagates through the equi-join onto
    the fact SCAN, so the 'plain' SMJ never shuffled the full fact side
    and the hand-derived reduction ratio described a plan that never
    ran. The selective predicate now lives on a NON-key column
    (a hash of ``text``): nothing is inferable onto the fact side, the
    plain join genuinely shuffles every fact row, and the runtime-filter
    pattern is measured in the regime it exists for. (Spark's own
    injected runtime bloom filter stays inert here: the fact side is
    far below applicationSideScanSizeThreshold = 10 GiB.)"""
    from pyspark.sql import functions as F

    from go_simple_embedding_database_spark.operators.sketch import (
        bloom_prune)

    out = {"note": "autoBroadcastJoinThreshold=-1 (SMJ regime); "
                   "agg = count per source over matching docs; "
                   "sec = min of runs (recorded); exchange_* are Spark "
                   "SQL metrics off the executed plan; dim predicate is "
                   "non-key (hash of text) so nothing is inferable onto "
                   "the fact scan"}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for label, d in dirs:
            docs = spark.read.parquet(f"{d}/documents.parquet")
            keys = (docs.filter(F.pmod(F.xxhash64("text"),
                                       F.lit(101)) == 0)
                    .select("doc_id"))
            bits = max(1 << 14, 1 << (16 * keys.count()).bit_length())

            def plain():
                return (docs.join(keys, "doc_id")
                        .groupBy("source").count())

            def bloomed():
                return (bloom_prune(docs, keys, "doc_id", num_bits=bits)
                        .join(keys, "doc_id").groupBy("source").count())

            def run(df):
                df.select(F.count(F.coalesce(
                    F.col(df.columns[0]).cast("string"),
                    F.lit("")))).collect()

            fact_rows = docs.count()
            pruned_rows = bloom_prune(docs, keys, "doc_id",
                                      num_bits=bits).count()
            plain_sec, plain_runs = _timed_best(
                spark, lambda: run(plain()), runs=3)
            bloom_sec, bloom_runs = _timed_best(
                spark, lambda: run(bloomed()), runs=3)
            ex_plain = _exchange_metrics(plain())
            ex_bloom = _exchange_metrics(bloomed())
            rec = {
                "plain_smj_sec": plain_sec, "plain_runs": plain_runs,
                "bloom_prune_sec": bloom_sec, "bloom_runs": bloom_runs,
                "num_bits": bits,
                "fact_rows": fact_rows,
                "pruned_rows": pruned_rows,
                # Spark's own exchange metrics for both executed plans —
                # the scale-invariant claim, engine-measured
                "exchange_plain": ex_plain,
                "exchange_bloom": ex_bloom,
                "exchange_record_reduction": round(
                    ex_plain["max_exchange_records"]
                    / max(1, ex_bloom["max_exchange_records"]), 1),
                "exchange_bytes_reduction": round(
                    ex_plain["shuffle_bytes_total"]
                    / max(1, ex_bloom["shuffle_bytes_total"]), 2),
                "rows_match": (sorted(map(tuple, plain().collect()))
                               == sorted(map(tuple, bloomed().collect()))),
            }
            rec["speedup"] = round(
                rec["plain_smj_sec"] / rec["bloom_prune_sec"], 2)
            out[label] = rec
            print(f"bloom_ab {label}: {rec}", flush=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return out


def _pagerank_superstep_shuffle(spark) -> dict:
    """PageRank contribution pre-aggregation at scale (VERDICT r10 #7):
    the round-10 zero-seed-union rewrite feeds EDGE-grain rows into each
    superstep's hash aggregate — this probe records, from Spark's own
    SQL metrics, what each per-round exchange actually moved at 10x/100x
    disjoint replicas of the sf0.1 customer-supplier graph, on both the
    broadcast and the no-broadcast (100 TB) join paths. Map-side partial
    aggregation must keep every per-round exchange at NODE grain
    (records ~ O(nodes x map partitions), bytes ~ the node relation),
    never edge grain."""
    from pyspark.sql import functions as F

    from go_simple_embedding_database_spark.operators.graph import pagerank

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet") \
        .select("l_orderkey", "l_suppkey")
    od = spark.read.parquet(f"{SF_DIR}/orders.parquet") \
        .select("o_orderkey", "o_custkey")
    pairs = (li.join(od, li.l_orderkey == od.o_orderkey)
             .select("o_custkey", "l_suppkey").distinct())
    fwd = pairs.select((F.col("o_custkey") * 2).alias("src"),
                       (F.col("l_suppkey") * 2 + 1).alias("dst"))
    base = fwd.union(fwd.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst")))
    base = base.localCheckpoint(eager=True)   # fix the graph once
    max_node = base.agg(F.max(F.greatest("src", "dst"))).collect()[0][0]
    span = int(max_node) + 1
    out = {}
    for replicas in (10, DEEP_REPLICAS):
        reps = spark.range(replicas).select(F.col("id").alias("_r"))
        edges = (base.crossJoin(reps)
                 .select((F.col("src") + F.col("_r") * span).alias("src"),
                         (F.col("dst") + F.col("_r") * span).alias("dst")))
        n_edges = edges.count()
        for bcast in (True, False):
            ranks = pagerank(edges, n_iter=5, broadcast_ranks=bcast)
            m = _exchange_metrics(ranks.agg(F.sum("rank")))
            n_nodes = ranks.count()
            key = f"{replicas}x_{'broadcast' if bcast else 'shuffle'}"
            out[key] = {
                "n_edges": n_edges, "n_nodes": n_nodes,
                "n_exchanges": m["n_exchanges"],
                "per_exchange": m["per_exchange"],
                "max_exchange_records": m["max_exchange_records"],
                "edge_grain_records": n_edges + n_nodes,
            }
            print(f"pagerank_superstep_shuffle {key}: "
                  f"nodes={n_nodes} edges={n_edges} "
                  f"max_exchange_records={m['max_exchange_records']} "
                  f"per_exchange={m['per_exchange']}", flush=True)
    return {"pagerank_superstep_shuffle": out}


def _synthesize_events(spark, out_dir: str) -> None:
    """10x events: user_id and event_id offset per replica, timestamps and
    per-user histories untouched — 10x the users, identical per-user
    structure, so per-key-state operators (funnel, retention, sessions,
    rolling windows, grouped regression) produce exactly 10x the output
    and their ratio measures the keyed-exchange plan."""
    from pyspark.sql import functions as F
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n_user = ev.agg(F.max("user_id")).collect()[0][0] + 1
    n_event = ev.agg(F.max("event_id")).collect()[0][0] + 1
    reps = spark.range(REPLICAS).select(F.col("id").alias("_r"))
    (ev.crossJoin(reps)
     .select((F.col("event_id") + F.col("_r") * n_event).alias("event_id"),
             "ts",
             (F.col("user_id") + F.col("_r") * n_user).alias("user_id"),
             "event_type", "value", "props")
     .repartition(32)
     .write.mode("overwrite").parquet(f"{out_dir}/events.parquet"))


def _event_flagships():
    """Per-user-state operators over the events table — the streaming-
    shaped family whose 100 TB story is 'state per key, keyed exchanges
    only'. All linear-output under user-offset replication."""
    import __spark_entry__ as em
    q = em.queries()
    return {
        "event_funnel": q["event_funnel"],
        "events_retention": q["events_retention"],
        "events_sessionize": q["events_sessionize"],
        # retired from the gate surface in r10; still library code with
        # a scale contract, so the probe keeps measuring it
        "events_rolling_7d": em.RETIRED_QUERIES["events_rolling_7d"],
        "user_spend_trend": q["user_spend_trend"],
    }


def _flagships():
    """name -> callable(spark, sf_dir) returning a DataFrame. Drawn from
    the driver surface where possible so the probe times the same code."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F
    q = em.queries()
    # Only operators whose OUTPUT is linear in the input belong here: the
    # replicas are exact copies, so pair-producing near-dup queries would
    # see quadratic result growth per duplicate cluster (a property of the
    # data, not the plan) and the ratio would stop measuring the plan.
    def bloom_docs(spark, d):
        """Bloom semi-join pruning on the replicated corpus: keys are a
        ~1% slice selected on a NON-key column (hash of text — a
        key-side predicate like doc_id % 101 would be inferred onto the
        fact scan by Catalyst constraint propagation and bypass the
        bloom entirely; round-8 finding), so the key set GROWS with the
        corpus, and the bitset is sized per the operator's own guidance
        (next power of two >= 16 bits/key) — the probe measures the
        build + prune + exact join chain at the sizing a real deployment
        would use, not a fixture constant going saturated at 10x.
        Output: per-source counts (fixed row count)."""
        from go_simple_embedding_database_spark.operators.sketch import (
            bloom_prune)
        docs = spark.read.parquet(f"{d}/documents.parquet")
        keys = (docs.filter(F.pmod(F.xxhash64("text"), F.lit(101)) == 0)
                .select("doc_id"))
        bits = max(1 << 14, 1 << (16 * keys.count()).bit_length())
        return (bloom_prune(docs, keys, "doc_id", num_bits=bits)
                .join(keys, "doc_id").groupBy("source").count())

    def bpe_merges(spark, d):
        """BPE tokenizer training (round 8, lib operators/bpe.py): ONE
        corpus scan reduces to the (word, n) vocabulary; the 8 merge
        iterations then run on the vocabulary relation only, so the
        10x exact-copy tier should track the scan (the vocabulary —
        and therefore the iteration cost — is scale-invariant under
        duplication; the learned merges are pinned identical by
        test_bpe). Output: fixed 8-row merge table."""
        from go_simple_embedding_database_spark.operators import bpe
        docs = spark.read.parquet(f"{d}/documents.parquet")
        merges = bpe.bpe_train(docs, "text", num_merges=8)
        return spark.createDataFrame(
            [(i, l, r) for i, (l, r) in enumerate(merges)],
            "rank int, left string, right string")

    _seg_merges: dict[str, list] = {}

    def _merges_for(spark, d):
        # learned once per dir and memoized so the segment rows time the
        # corpus-sized work (explode + dictionary join + re-assembly),
        # not tokenizer training; run 1 of the min-of-N absorbs the
        # training cost and the min discards it. The merge table is
        # provably identical across exact-copy replicas anyway
        # (test_bpe's corpus-duplication invariance).
        from go_simple_embedding_database_spark.operators import bpe
        if d not in _seg_merges:
            docs = spark.read.parquet(f"{d}/documents.parquet")
            _seg_merges[d] = bpe.bpe_train(docs, "text", num_merges=8)
        return _seg_merges[d]

    def bpe_segment_bcast(spark, d):
        """Merge-table application, broadcast-dictionary path (round 9).
        Output: 1 row/doc — linear."""
        from go_simple_embedding_database_spark.operators import bpe
        docs = spark.read.parquet(f"{d}/documents.parquet")
        return bpe.bpe_segment(docs, "doc_id", "text",
                               _merges_for(spark, d), broadcast_vocab=True)

    def bpe_segment_shuffled(spark, d):
        """Same application under the r09 multilingual-vocabulary
        fallback (broadcast_vocab=False — shuffled dictionary join,
        VERDICT r08 #5): measures what the fallback costs when a 100 TB
        crawl's vocabulary outgrows the broadcast knob. Results are
        pinned equal to the broadcast path by test_bpe."""
        from go_simple_embedding_database_spark.operators import bpe
        docs = spark.read.parquet(f"{d}/documents.parquet")
        return bpe.bpe_segment(docs, "doc_id", "text",
                               _merges_for(spark, d), broadcast_vocab=False)

    def profile_sketch(spark, d):
        """table_profile's PRODUCTION shape (VERDICT r07 #5):
        exact_control=False — ONE scan, HLL++ sketch cardinality, no
        Expand (plan-asserted by tests/test_profile.py). The gate query
        carries the exact-control shape; this row measures the shape a
        100 TB ingest audit would actually run. Output: 5 rows (one per
        documents column) at every scale."""
        from go_simple_embedding_database_spark.operators.profile import (
            table_profile)
        docs = spark.read.parquet(f"{d}/documents.parquet")
        return table_profile(docs, exact_control=False)

    return {
        "topk_cosine": q["topk_cosine"],
        "dedup_exact": q["dedup_exact"],
        "bloom_prune_docs": bloom_docs,  # round 7 — linear scan + tiny agg
        "text_quality": q["text_quality"],
        "quality_unigram": q["quality_unigram"],
        "span_dedup": q["span_dedup"],
        "bm25_search": q["bm25_search"],
        "kmeans_cells": q["kmeans_cells"],
        "embedding_centroids": q["embedding_centroids"],
        # round 3 additions — all linear-output:
        "dedup_simhash": q["dedup_simhash"],      # 60-bit fp, 1 row/doc
        "token_budget": q["token_budget"],        # histogram refinement
        "frequent_tokens": q["frequent_tokens"],  # MG sketch + recount
        "tfidf_top_terms": q["tfidf_top_terms"],  # tf materialized, 3 rows/doc
        "ngram_novelty": q["ngram_novelty"],      # 1 row/doc (round 6)
        # round 8 — production sketch-only profile, fixed 5-row output
        "table_profile_sketch": profile_sketch,
        # round 8 second half — fixed-output: top-100 selection / the
        # d(d+1)/2-row covariance triangle, whatever the corpus size
        "dsir_select": q["dsir_select"],
        "embedding_covariance": q["embedding_covariance"],
        # round 8 second half — one corpus scan + vocab-sized merge loop
        "bpe_train_merges": bpe_merges,
        # round 9 — merge-table application A/B: broadcast dictionary vs
        # the over-the-knob shuffled fallback, 1 row/doc output
        "bpe_segment_bcast": bpe_segment_bcast,
        "bpe_segment_shuffled": bpe_segment_shuffled,
    }


def _bpe_census_run(spark, docs, num_merges: int, note: str,
                    label: str) -> dict:
    """Train BPE with the persistent-RDD census sampled INSIDE the
    merge loop (the bpe_train on_superstep hook, invoked right after
    each iteration's predecessor release — the point the
    two-pinned-supersteps invariant claims), at EVERY superstep. The
    invariant: at most the current superstep plus the one being built
    are ever pinned (census delta <= 2), and the loop exits with the
    census exactly where it started."""
    import time

    from go_simple_embedding_database_spark.operators import bpe

    sc = spark.sparkContext

    def pinned_ids() -> set:
        return {int(i) for i in sc._jsc.getPersistentRDDs().keySet()}

    # Census by RDD ID set, not by count: the probe runs late in a long
    # artifact process, and persistent RDDs pinned by EARLIER steps can
    # be ContextCleaner-released asynchronously DURING the (minutes-long)
    # merge loop — a count-based "end == base" invariant then fails on
    # an unrelated release (observed in the r10 refresh: census_base=1
    # doomed leftover, census_delta_end=-1). The invariant under test is
    # about the RDDs THIS training run creates: at most the current +
    # in-flight superstep of ITS OWN rdds pinned mid-loop, and none of
    # its own left pinned at exit.
    start_ids = pinned_ids()
    deltas: list[int] = []

    def on_superstep(i: int) -> None:
        deltas.append(len(pinned_ids() - start_ids))

    t0 = time.time()
    merges = bpe.bpe_train(docs, "text", num_merges, min_pair_count=1,
                           on_superstep=on_superstep)
    sec = round(time.time() - t0, 2)
    end_ids = pinned_ids()
    leaked = sorted(end_ids - start_ids)
    max_mid = max(deltas) if deltas else 0
    rec = {"num_merges_requested": num_merges,
           "num_merges_learned": len(merges),
           "sec": sec, "census_base": len(start_ids),
           "census_samples": len(deltas),
           "census_delta_max_mid_loop": max_mid,
           "own_rdds_leaked_at_end": leaked,
           "unrelated_released_during_run": len(start_ids - end_ids),
           "invariant_two_pinned_supersteps": bool(max_mid <= 2
                                                   and not leaked),
           "note": note}
    # the probe asserts the invariant, not just records it — a regression
    # here is a storage leak at real merge depth, fail the artifact run
    assert rec["invariant_two_pinned_supersteps"], rec
    print(f"{label}: {rec}", flush=True)
    return rec


def _bpe_deep(spark, dir_10x: str, num_merges: int = 500) -> dict:
    """BPE training at realistic merge depth (VERDICT r09 #3): real
    tokenizers run K=10k-32k merges; the two-pinned-supersteps storage
    invariant (plans/checkpoints.release_local_checkpoint) was only
    census-tested at toy K. This row trains K=500 on the 10x exact-copy
    corpus (whose own merge CLOSURE caps the observed depth — the
    synthetic companion row below sustains the full 500)."""
    docs = spark.read.parquet(f"{dir_10x}/documents.parquet")
    return _bpe_census_run(
        spark, docs, num_merges,
        "persistent-RDD census sampled at EVERY superstep on the 10x "
        "exact-copy corpus; <= current + in-flight superstep pinned, "
        "and training must return the census to its baseline; depth "
        "capped by this corpus's merge closure (min_pair_count=1 runs "
        "until no pair remains)", "bpe_train_deep")


def _bpe_deep_synthetic(spark, num_merges: int = 500) -> dict:
    """The same census-in-the-loop observation at the FULL requested
    K=500: the 10x driver corpus's merge closure is ~107 (its template
    vocabulary runs out of distinct pairs), so this row trains on a
    deterministic high-diversity vocabulary — the first 4,000
    length-4 lowercase strings in lexicographic order, Zipf-ishly
    repeated across 500 docs — whose closure comfortably exceeds 500.
    Every one of the 500 supersteps samples the census; the invariant
    must hold at each (this is the depth regime real tokenizers
    occupy, scaled 1:20 to keep the artifact run bounded)."""
    import itertools
    import string

    words = ["".join(t) for t in itertools.islice(
        itertools.product(string.ascii_lowercase, repeat=4), 4000)]
    n = len(words)
    docs = spark.createDataFrame(
        [(i, " ".join(words[(i * 8 + j * j) % n] for j in range(40)))
         for i in range(500)],
        "doc_id long, text string")
    return _bpe_census_run(
        spark, docs, num_merges,
        "deterministic 4k-word synthetic vocabulary (merge closure > "
        "500): census sampled at every one of the 500 supersteps",
        "bpe_train_deep_synthetic")


def main() -> None:
    from pyspark.sql import functions as F

    from go_simple_embedding_database_spark.session import get_spark
    spark = get_spark(app_name="scale-probe")

    def run(df):
        # touch every row without collecting (same sink as bench.py)
        df.select(F.count(F.coalesce(F.col(df.columns[0]).cast("string"),
                                     F.lit("")))).collect()

    def probe_scales(flagships, dirs, results, count_rows=False, runs=3,
                     cached_base=None):
        """``dirs`` is [(label, path), ...] with the first entry the 1x
        baseline. Best-of-``runs`` per (operator, scale) — the r03 record
        wrote a 4.91x containment ratio that re-measured at 2.7-3.0x in
        fresh sessions (best-of-2 let one co-tenant-noisy pair of runs
        define a round's official ratio; VERDICT r03 #2/#5).

        ``cached_base`` maps operator -> an already-measured baseline
        time; when given, ``dirs`` lists ONLY the scaled dirs and the
        baseline is not re-measured (ADVICE r04: the deep pair tier was
        re-running the 1x best-of-2 plus a row-count execution per
        operator only to discard them)."""
        base_label = None if cached_base is not None else dirs[0][0]
        scaled = dirs if cached_base is not None else dirs[1:]
        for name, fn in flagships.items():
            times, rows, spreads = {}, {}, {}
            for label, d in dirs:
                best, all_runs = _timed_best(
                    spark, lambda: run(fn(spark, d)), runs)
                times[label] = best
                spreads[f"runs_{label}"] = all_runs
                if count_rows:
                    rows[f"rows_{label}"] = fn(spark, d).count()
            base_time = (cached_base[name] if cached_base is not None
                         else times[base_label])
            ratios = {
                ("ratio" if (cached_base is None
                             and label == f"{REPLICAS}x")
                 else f"ratio_{label}"):
                    round(times[label] / base_time, 2)
                for label, _ in scaled}
            results[name] = {**times, **ratios, **rows, **spreads}
            desc = " ".join(f"{label}={times[label]}s" for label, _ in dirs)
            print(f"{name}: {desc} {ratios}"
                  + (f" rows={[rows[f'rows_{label}'] for label, _ in dirs]}"
                     if count_rows else ""), flush=True)

    def probe(flagships, dir_1x, dir_10x, results, count_rows=False):
        probe_scales(flagships, [("1x", dir_1x), (f"{REPLICAS}x", dir_10x)],
                     results, count_rows=count_rows)

    scratch = tempfile.mkdtemp(prefix="gsed_scale_")
    results = {}
    try:
        _synthesize(spark, scratch)
        probe(_flagships(), SF_DIR, scratch, results)
        # deep-merge BPE storage-invariant rows (VERDICT r09 #3): the
        # 10x corpus (closure-capped) and the synthetic full-depth run
        results["bpe_train_deep"] = _bpe_deep(spark, scratch)
        results["bpe_train_deep_synthetic"] = _bpe_deep_synthetic(spark)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    # per-user-state events family: 10x users, identical per-user history.
    event_results = {}
    sev = tempfile.mkdtemp(prefix="gsed_scale_ev_")
    try:
        _synthesize_events(spark, sev)
        probe(_event_flagships(), SF_DIR, sev, event_results,
              count_rows=True)
    finally:
        shutil.rmtree(sev, ignore_errors=True)

    # pair-producing dedup family: all scales use the word-tagged corpus
    # (1 vs REPLICAS vs DEEP_REPLICAS replicas) so tokenization cost is
    # identical and only the data volume changes; row counts prove output
    # stayed ~linear (the prerequisite for the time ratio to mean
    # anything). The 100x tier (VERDICT r03 #6) runs best-of-2 — each
    # operator is tens of seconds there and the tier exists to expose
    # selectivity collapse (x10-or-worse blowups), not 10% noise.
    pair_results = {}
    s1 = tempfile.mkdtemp(prefix="gsed_scale_pair1_")
    s10 = tempfile.mkdtemp(prefix="gsed_scale_pair10_")
    s100 = tempfile.mkdtemp(prefix="gsed_scale_pair100_")
    try:
        _synthesize_disjoint(spark, s1, 1)
        _synthesize_disjoint(spark, s10, REPLICAS)
        probe_scales(_pair_flagships(),
                     [("1x", s1), (f"{REPLICAS}x", s10)],
                     pair_results, count_rows=True)
        _synthesize_disjoint(spark, s100, DEEP_REPLICAS)
        deep_pairs = {}
        dlabel = f"{DEEP_REPLICAS}x"
        # reuse the best-of-3 1x baseline just measured above — no
        # discarded re-measure (ADVICE r04)
        probe_scales(_pair_flagships(), [(dlabel, s100)],
                     deep_pairs, count_rows=True, runs=2,
                     cached_base={n: rec["1x"]
                                  for n, rec in pair_results.items()})
        # namespace the merged keys when DEEP_REPLICAS == REPLICAS, else
        # the deep row silently overwrites the default tier's (ADVICE r04)
        dkey = f"deep_{dlabel}" if DEEP_REPLICAS == REPLICAS else dlabel
        for name, rec in deep_pairs.items():
            pair_results[name][dkey] = rec[dlabel]
            pair_results[name][f"ratio_{dkey}"] = rec[f"ratio_{dlabel}"]
            pair_results[name][f"rows_{dkey}"] = rec[f"rows_{dlabel}"]
        # df-cutoff headroom sweep on the same disjoint corpora
        # (VERDICT r05 #4) — measures, per scale, the join volume /
        # output / recall trade as the cutoff moves around the default.
        containment_sweep = _containment_sweep(
            spark, [(f"{REPLICAS}x", s10), (dlabel, s100)])
        # max_bucket headroom sweep for the truncation-pair guard
        # (VERDICT r06 #4) — same corpora, same protocol.
        prefix_sweep = _prefix_sweep(
            spark, [(f"{REPLICAS}x", s10), (dlabel, s100)])
    finally:
        shutil.rmtree(s1, ignore_errors=True)
        shutil.rmtree(s10, ignore_errors=True)
        shutil.rmtree(s100, ignore_errors=True)

    # deep tier for the non-pair dedup/ANN flagships: bm25 on exact-copy
    # docs (fixed top-k output), the SemDeDup pair stage on
    # signed-permutation embedding replicas (linear pair output).
    deep_results = {}
    db = tempfile.mkdtemp(prefix="gsed_scale_bm25_")
    de = tempfile.mkdtemp(prefix="gsed_scale_semb_")
    try:
        bm25_fns, sem_fns = _deep_scan_flagships()
        _synthesize_docs_copies(spark, db, DEEP_REPLICAS)
        probe_scales(bm25_fns, [("1x", SF_DIR), (f"{DEEP_REPLICAS}x", db)],
                     deep_results, runs=2)
        # table_profile's production shape at depth (VERDICT r07 #5):
        # sketch-only single scan on the 100x exact-copy documents —
        # the 10x tier rides in `results` via the flagship family.
        probe_scales({"table_profile_sketch": _flagships()
                      ["table_profile_sketch"]},
                     [("1x", SF_DIR), (f"{DEEP_REPLICAS}x", db)],
                     deep_results, runs=2)
        deep_results["table_profile_sketch"]["note"] = (
            "production shape: exact_control=False — ONE scan, HLL++ "
            "sketch, Expand-free (plan-asserted)")
        # DSIR selection at depth (round 8 second half): exact-copy docs
        # 100x the bigram volume through two bucket reductions + the
        # per-doc weight agg; output fixed at the 100-doc budget.
        probe_scales({"dsir_select": _flagships()["dsir_select"]},
                     [("1x", SF_DIR), (f"{DEEP_REPLICAS}x", db)],
                     deep_results, runs=2)
        deep_results["dsir_select"]["note"] = (
            "exact-copy docs: bucket counts scale linearly, lambda table "
            "fixed at 4096 rows, output fixed at budget=100")
        # bloom prune vs plain SMJ in the no-broadcast regime (round 7)
        bloom_ab = _bloom_ab(
            spark, [("1x", SF_DIR), (f"{DEEP_REPLICAS}x", db)])
        _synthesize_perm_embeddings(spark, de, DEEP_REPLICAS)
        probe_scales(sem_fns, [("1x", SF_DIR), (f"{DEEP_REPLICAS}x", de)],
                     deep_results, count_rows=True, runs=2)
        # embedding covariance at depth (round 8 second half): the GEMM
        # moments pass over 100x vectors — the exchange stays
        # O(partitions*d^2) so the ratio should track the scan, and the
        # output is the fixed 2080-row triangle at every scale.
        probe_scales({"embedding_covariance":
                      _flagships()["embedding_covariance"]},
                     [("1x", SF_DIR), (f"{DEEP_REPLICAS}x", de)],
                     deep_results, runs=2)
        deep_results["embedding_covariance"]["note"] = (
            "per-batch int64 GEMM moments; shuffle O(partitions*d^2), "
            "output fixed at d(d+1)/2 rows")
        # ANN query family at the scaled operating point (VERDICT r06 #3)
        deep_results.update(_ann_deep(spark, SF_DIR, de, DEEP_REPLICAS))
        # round-11: PageRank per-superstep exchange grain at 10x/100x
        deep_results.update(_pagerank_superstep_shuffle(spark))
    finally:
        shutil.rmtree(db, ignore_errors=True)
        shutil.rmtree(de, ignore_errors=True)
    out = {"replicas": REPLICAS, "deep_replicas": DEEP_REPLICAS,
           "runs": {"default": 3, "deep": 2, "sweeps": 2,
                    "note": "every timed row records its own runs_* "
                            "array; sec/ratio use the min (VERDICT "
                            "r07 #2)"},
           "results": results, "event_results": event_results,
           "pair_results": pair_results, "deep_results": deep_results,
           "containment_sweep": containment_sweep,
           "prefix_sweep": prefix_sweep, "bloom_ab": bloom_ab}
    print(json.dumps(out))
    # In-repo auditable artifact, same pattern as SELFCHECK/FETCHCHECK.
    # --out PATH (or SPARK_GRAFT_SCALE_OUT) redirects it so smoke /
    # verification runs never clobber the official record (the BENCH.json
    # lesson, VERDICT r07 #4).
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if "--out" in sys.argv:
        path = os.path.abspath(sys.argv[sys.argv.index("--out") + 1])
    else:
        path = os.environ.get("SPARK_GRAFT_SCALE_OUT",
                              os.path.join(root, "SCALE.json"))
    with open(path, "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
