"""Generate PLANS.md: formatted physical plans of the headline queries with
scale commentary — the local[32] stand-in for reviewing the plans a
1000-executor cluster would run.

Usage: python tools/plans_report.py  (writes PLANS.md at the repo root)

Each section states what the plan MUST show for the operator to survive a
100x scale-up (the same properties tests/test_plans.py pins), then the
`.explain("formatted")` output so a reviewer can check without a cluster.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# query name -> (headline, what-to-check commentary)
COMMENTARY: dict[str, tuple[str, str]] = {
    "topk_cosine": (
        "Flagship top-k similarity query",
        "`TakeOrderedAndProject` instead of a global sort: each partition "
        "keeps its local top-k and only k rows per partition reach the "
        "driver — O(N) scan, O(k·partitions) movement, vs the reference's "
        "full O(N log N) sort (collection/collection.go:98-103). The "
        "cosine kernel is a codegen'd higher-order function inside the "
        "scan stage; `ReadSchema` shows only the columns used."),
    "batch_topk": (
        "Batched top-k (many query vectors at once)",
        "The query set is collected once and rides the scorer's closure: "
        "`MapInArrow` over the corpus scan scores each record against "
        "every query and emits only each query's k best rows per Arrow "
        "batch, so no cross join and at most k·M rows per batch leave "
        "Python. The global per-query ranking is one window over "
        "query_id: a Partial `WindowGroupLimit` keeps each map task's k "
        "best per query below the single `Exchange hashpartitioning"
        "(query_id)`, and the slim projection keeps embeddings out of it "
        "(the `Exchange` operands carry id+score only). The only "
        "broadcast is the k·M winners joined back onto the records for "
        "the payload."),
    "similarity_join_knn": (
        "k-NN similarity join (queries x corpus)",
        "An adapter over `batch_topk`: the small query slice is "
        "collected when the plan is built and rides the record scorer's "
        "closure, so the plan is the corpus scan feeding one "
        "`MapInArrow` — no cross join, no broadcast, the corpus never "
        "shuffled and never collected. The only exchange is the "
        "per-query window's `hashpartitioning(left_id)`, with a Partial "
        "`WindowGroupLimit` below it capping each map task at k rows per "
        "query."),
    "dedup_minhash": (
        "MinHash+LSH near-duplicate pairs",
        "Candidate generation is an equi-join on the LSH band key "
        "(`Exchange hashpartitioning(band, key)`), NEVER a cross join — "
        "no `CartesianProduct`/`BroadcastNestedLoopJoin` anywhere. Pair "
        "volume is O(sum of bucket^2) bounded by `max_bucket_size`, not "
        "O(N^2)."),
    "dedup_simhash_pairs": (
        "SimHash near-dup pairs (pigeonhole banding)",
        "The 60-bit fingerprint splits into max_hamming+1 bit-bands "
        "(8-9 bits each at the default budget — 256-512 bucket values "
        "per band, ~16-32x sharper than the former 32-bit layout); any "
        "pair within the Hamming budget agrees exactly on >=1 band, so "
        "candidates come from an equi-join on (band_idx, band_bits) — "
        "same bucketed shuffle shape as MinHash LSH. No cross join in "
        "the plan (round 1 ran all-pairs; banded in round 2; widened to "
        "60-bit in round 3)."),
    "ann_recall": (
        "ANN recall evaluation (exact side batched)",
        "The exact reference side runs ONE corpus scan for the whole "
        "query batch via batch_topk (per-batch top-k inside the "
        "`MapInArrow` scorer + one per-query window, slim id+score "
        "shuffle; round 2 scanned once per query); its single-corpus-"
        "scan property is pinned by tests/test_plans.py::"
        "test_ann_recall_exact_side_single_corpus_scan. The IVF side "
        "reads the cells table once, partition-pruned to the union of "
        "probed cells, and scores each cell row through the same "
        "scorer against only the queries that probe its cell — no "
        "(query, cell) pair relation and no join back to the queries."),
    "ann_ivf": (
        "IVF ANN query via the materialized index",
        "The per-query scan must show `PartitionFilters: [cell IN (..)]` "
        "on the cell-partitioned index — only the probed cells' files "
        "open. The full assign-every-vector pass runs only at [re]build "
        "(fingerprint-guarded), not per query: one `MapInArrow` over the "
        "corpus scan ranks the collected centroids per Arrow batch, with "
        "no record x centroid join, no exchange and no window. The probe "
        "ranks the centroids on the driver with the same function."),
    "ann_quantized": (
        "Two-stage quantized retrieval",
        "Stage 1 scans the MATERIALIZED int8 copy — `ReadSchema` of the "
        "first scan shows only (vec_id, embedding_q array<tinyint>), "
        "1 byte/component instead of 8 — then the exact rescore joins "
        "back to the full-width table for k*4 survivors only."),
    "bucketed_join_revenue": (
        "Repeated fact-fact join on bucketed tables",
        "Both sides are bucketed managed tables on the join key with the "
        "same bucket count: the join has ZERO `Exchange` operators — "
        "every task reads bucket i of both sides. The layout+freshness "
        "validation (bucket cols/count + source fingerprint) runs once "
        "per session."),
    "pack_sequences": (
        "Sequence packing (concat-and-chunk)",
        "The token-offset cumsum windows by source (shards pack in "
        "parallel) — exactly ONE `Exchange hashpartitioning(source)`; the "
        "per-(source, bin) aggregation reuses that partitioning because "
        "its keys extend the window key. A global (unpartitioned) cumsum "
        "would be a one-task plan; this one scales with shard count."),
    "events_rolling_7d": (
        "RANGE-frame rolling 7-day window (gate-flagged r02, integer-"
        "hardened r03)",
        "One `Exchange hashpartitioning(user_id)` feeds both the daily "
        "aggregate and the rangeBetween window (the window key extends "
        "the groupBy key, so the partitioning is reused). The rolling "
        "value is exact integer cents end-to-end — quantized per row "
        "BEFORE any sum, so the result is fold-order-free on any engine "
        "and any partitioning."),
    "token_budget": (
        "Global token-budget selection (gate-flagged r02, BIGINT-cast "
        "r03)",
        "Two-phase histogram refinement: a bands-sized aggregate finds "
        "the boundary band, full bands pass via a broadcast status join "
        "(no window at all), and ONLY boundary-band rows see a cumsum "
        "window — the plan must show the window operating on the "
        "band-filtered relation, never the corpus. The naive global "
        "running sum (the DuckDB oracle) would be a one-task sort."),
    "corpus_upsert": (
        "MERGE-style upsert (gate-flagged r02, BIGINT-cast r03)",
        "The revision batch replaces its keys via left-anti join on "
        "doc_id + union — both sides hash-partition on the key, no "
        "cross join, no full rewrite of unmatched rows' content. The "
        "per-source audit aggregate partial-aggregates map-side."),
    "split_contamination": (
        "Train/test contamination scan (re-materialized r03)",
        "The winnowing-fingerprint relation is materialized BEFORE the "
        "explode (one compact array row per doc — the r02 version "
        "cached the exploded relation and the many-row cache write "
        "dominated, 2.27 s; now ~1.1 s at sf0.1). Both split sides "
        "re-explode from the checkpoint in pure codegen and meet in an "
        "equi-join on the fingerprint — never a text cross join."),
    "event_funnel": (
        "Ordered funnel over events",
        "All four chained stage windows share the user_id partitioning: "
        "one `Exchange hashpartitioning(user_id)` total, every stage "
        "evaluated in the same window stage; the per-user collapse "
        "reuses the partitioning."),
    "events_salted_agg": (
        "Skew-salted aggregation",
        "Two-phase: partial aggregate on (user_id, salt) spreads the "
        "planted hot user over 16 tasks, final merge per user_id. The "
        "plan shows both hash-aggregate pairs; the skew canary in "
        "bench.py records max_over_mean < 2 on the salted key vs ~3.5 "
        "raw."),
    "dedup_clusters": (
        "Near-dup pairs -> transitive clusters (connected components)",
        "Hybrid: the (persisted) undirected edge relation is counted; "
        "below 500k edges — the common case for a high-threshold "
        "near-dup graph, including this one — components come from "
        "driver union-find and the displayed plan is the cluster-size "
        "window over the local label table. Above the threshold the "
        "distributed min-label loop with pointer jumping runs: "
        "O(log diameter) rounds, each one equi-join + one aggregate on "
        "the node id, convergence folded into the materializing "
        "aggregate (no extra job per round)."),
    "dedup_containment": (
        "Asymmetric rare-shingle containment (quotation/inclusion)",
        "Inverted-index shape: explode shingles, document-frequency "
        "cutoff (grams in > max_df docs dropped — bounds per-gram join "
        "fanout at max_df^2), self-equi-join on the gram, count ratio. "
        "No CartesianProduct anywhere; every shuffle keys on the gram "
        "or the id pair."),
    "dedup_prefix": (
        "Truncation duplicates (proper character-prefix pairs)",
        "One equi-join on the first-min_len-chars bucket key after a "
        "count-over-key window drops boilerplate buckets (> max_bucket "
        "members), so per-bucket fanout is <= max_bucket^2 and total "
        "join volume is linear at fixed cutoff. The dynamic-length "
        "prefix verify is a codegen substring comparison inside the "
        "join filter — no second pass. Shuffles key on the bucket "
        "only; docs below min_len never enter the exchange."),
    "ngram_novelty": (
        "Per-document n-gram novelty (first-occurrence attribution)",
        "Explode distinct shingles once, hash-aggregate min(doc_id) per "
        "gram (map-side combinable), equi-join back on the gram REUSING "
        "the aggregation's hash partitioning (no extra exchange — both "
        "sides arrive hashed on the gram), then one per-doc aggregate. "
        "Nothing all-pairs, no corpus-wide window, no driver "
        "materialization."),
    "bloom_prune_join": (
        "Bloom-filter semi-join pruning (round 7)",
        "The dim keys aggregate into a 1-row bitset (explode to k "
        "positions, map-side-combinable bit_or over <= 256 word rows, "
        "single-row assembly) which broadcasts onto the fact scan; the "
        "probe predicate — k xxhash64 word lookups + bit tests — is "
        "pure codegen'd Catalyst sitting BEFORE the exact join's "
        "exchange, so at 100 TB the shuffle moves only the ~1% of fact "
        "rows that (might) match instead of all of them. False "
        "negatives are impossible; the exact join removes the false "
        "positives, so the result equals the plain join the oracle "
        "runs."),
    "approx_order_quantiles": (
        "Bounded-rank-error percentile sketch (round 7)",
        "percentile_approx (Greenwald-Khanna: mergeable, bounded "
        "memory, one streaming pass) is the 100 TB path; the exact "
        "percentile + rank-recount verdict is the small-SF control the "
        "gate hashes. The verdict re-join broadcasts the 5-row sketch "
        "aggregate onto the orders scan — the fact side never shuffles "
        "for a dimension-sized build — and both aggregations carry "
        "map-side partials."),
    "table_profile": (
        "One-pass ingest-audit column profile (round 7)",
        "The sketch pass computes EVERY column's null fraction, HLL++ "
        "cardinality, and min/max from ONE parquet scan (the naive "
        "audit is a scan per column per statistic); the exact-distinct "
        "CONTROL is a second 1-row pass (broadcast combine of two "
        "global aggregates — the allowlisted provably-1-row nested "
        "loop) — deliberately NOT fused, because the "
        "distinct-rewrite Expand plus the HLL++ "
        "TypedImperativeAggregate degenerate to a buffer-serializing "
        "SortAggregate (77 s vs 2 s at sf0.1, measured). Production "
        "passes exact_control=False: single scan, no Expand, constant "
        "memory, mergeable sketches."),
    "dsir_select": (
        "DSIR importance-weighted data selection (round 8)",
        "ONE tokenizer pass materializes (doc, bucket) gram occurrences "
        "(localCheckpoint — three consumers must not re-run the regex "
        "explode); target and raw bucket counts reduce to <= 4096 rows "
        "each via map-side combine; the 1-row totals aggregate "
        "broadcasts onto the 4096-row spine (the allowlisted "
        "provably-1-row nested loop) to form the lambda table, which "
        "broadcasts onto the grams for an exact-integer per-doc sum. "
        "Selection is TakeOrderedAndProject — per-partition heaps plus "
        "a budget-sized driver merge, never a global sort or a "
        "single-partition window. At 100 TB every shuffle is either "
        "bucket-sized (4096) or doc-keyed."),
    "embedding_covariance": (
        "Distributed embedding covariance via GEMM moments (round 8)",
        "Per-Arrow-batch int64 GEMM inside mapInPandas emits "
        "d(d+3)/2 + 1 tiny rows per batch, so the single real exchange "
        "is O(partitions x d^2) — corpus-size-independent, "
        "engine-measured at <= partitions x 2145 records by "
        "tests/test_pca.py via plans.exchange_metrics (the naive "
        "posexplode self-join the DuckDB oracle runs shuffles N x d^2 "
        "rows — 4096x the data at d=64). Quantization to exact 1e-4 "
        "integer units happens IN CATALYST before Python, so every "
        "partial is an exact bigint and partition order cannot move "
        "the result. The final combine joins the 2080-row triangle "
        "against two broadcast relations (64-row sums, 1-row n)."),
    "snapshot_diff": (
        "Snapshot CDC diff (insert/update/delete)",
        "ONE full-outer sort-merge join on the key; both sides project "
        "to (key, md5 fingerprint) before the exchange, so the shuffled "
        "payload is 32 chars regardless of row width. Bucket both "
        "snapshots on the key (sources/bucketed.py) and the exchange "
        "disappears entirely."),
    "mixture_sample": (
        "Temperature-weighted domain mixture sampling",
        "The rates relation is domains-sized and broadcast back; each "
        "corpus row decides its own membership from md5(id) against the "
        "broadcast threshold — no per-domain sort, no row_number "
        "window, no corpus-sized shuffle. The only aggregations are the "
        "per-domain counts (map-side partial)."),
    "events_pmi": (
        "Event-type co-occurrence PMI",
        "distinct (user, type) first bounds the self-join fanout by the "
        "type vocabulary, not the user's event count; marginals and the "
        "user total come back as BroadcastExchanges. Shuffles key on "
        "user_id and the (type_a, type_b) pair only."),
    "frequent_tokens": (
        "Heavy hitters without a vocabulary shuffle (Misra-Gries)",
        "Per-partition bounded-memory sketches (mapInPandas, no "
        "shuffle) merge into a candidates relation capped at "
        "partitions x capacity rows — broadcast-sized by construction. "
        "The exact recount is a broadcast LEFT SEMI filter on the token "
        "stream followed by an aggregation whose shuffle carries heavy "
        "candidates only; the naive plan's full-vocabulary exchange "
        "never happens."),
    "zorder_layout": (
        "Z-order (Morton) layout audit",
        "The interleaved key is pure integer shift/and/or — whole-stage "
        "codegen, no Python — and the audit is one partial+final "
        "aggregate on the z-bucket. The companion write_zordered lays "
        "files out so min/max footer stats bound BOTH interleaved "
        "columns (measured against a single-column sort in "
        "tests/test_layout.py)."),
    "kmeans_cells": (
        "Distributed k-means (final assignment + cell audit)",
        "The assignment is a pure projection — centroids live in the "
        "expression (broadcast-the-model), so NO exchange precedes it and "
        "the only shuffle is the k-group audit aggregation, partial-"
        "aggregated map-side. Inside the fit loop (driver-side, not in "
        "this plan) each Lloyd round is the same shape: scan + project + "
        "one k x dim partial-sum exchange."),
    "semantic_dedup": (
        "SemDeDup semantic near-duplicate pairs",
        "Candidate pairs come from an equi-join on the LEARNED k-means "
        "cell (no CartesianProduct anywhere): pair volume is the sum of "
        "squared cell sizes, never corpus². The per-cell scoring is one "
        "Arrow-batched GEMM per cell (`FlatMapGroupsInPandas`), the only "
        "Python in the plan, with the cell shuffle in front of it."),
    "bm25_search": (
        "BM25 keyword retrieval",
        "Candidate pruning is scan-side (`arrays_overlap` filter before "
        "any explode), the corpus stats and per-term document frequencies "
        "attach by BROADCAST join, and the final k is "
        "`TakeOrderedAndProject` — per-partition heaps, no global sort. "
        "The corpus relation itself is never shuffled."),
    "span_dedup": (
        "Cross-document duplicated-span statistics",
        "One positional-span explode, collapsed immediately to distinct "
        "(span, doc) rows with the per-doc multiplicity in the SAME hash "
        "aggregation; the span document-frequency is a count-over-span "
        "window on that collapsed relation (shuffle carries span hashes "
        "and counts, never the text twice), then one per-doc aggregate."),
    "weighted_sample": (
        "Exactly-k weighted sampling without replacement (A-ES)",
        "Priorities are a pure scalar projection (md5 uniform + ln — "
        "whole-stage codegen, no rand()), and the per-group exact-k is "
        "one window over the group: a Partial `WindowGroupLimit` keeps "
        "at most k rows per group per map task before the single "
        "exchange. Deterministic under any partitioning — the plan can "
        "be changed without changing the sample."),
    "incremental_dedup": (
        "Incremental batch-vs-corpus near-dup (band-index probe)",
        "The corpus side enters as its PERSISTED band index — no corpus "
        "shingling anywhere in this plan; candidates are an equi-join on "
        "(band, key), and the exact-Jaccard verify joins are semi-join-"
        "bounded to colliding documents. The candidate relation is a lazy "
        "localCheckpoint (three consumers, no pinned cache entry)."),
    "dedup_jaccard": (
        "Exact n-gram Jaccard pairs (prefix-filter candidate join)",
        "Candidates are an equi-join on each document's prefix shingles "
        "(rarest-first global order; |S| - ceil(t*|S|) + 1 per doc — the "
        "published exact set-similarity-join bound), so disjoint "
        "documents never pair; the length-band and block restrictions "
        "apply as join filters. Every exchange is keyed (shingle df, "
        "per-doc prefix window, prefix-token join, slim pair distinct, "
        "id-keyed verify joins) — no all-pairs stage anywhere; the probe "
        "measured 7.15x -> 2.05x wall-clock at 10x corpus for the "
        "rewrite."),
    "pagerank_suppliers": (
        "PageRank supplier importance (fixed-point Pregel loop)",
        "Each superstep is join(ranks, edges on src) -> groupBy(dst) sum; "
        "the persisted edge+degree relation is scanned per round, shuffles "
        "carry (node, rank) longs only, and the supplier dimension "
        "broadcasts at the end. Integer ranks make the whole loop "
        "deterministic under any partitioning — no float drift to mask "
        "a plan change. Measured sf0.1 breakdown (r05): ~3.1 s "
        "lineitem-orders edge build + distinct, ~2.2 s edge/degree/node "
        "state materialization, ~0.3 s per superstep — the wall-clock is "
        "the two one-off materializations plus n_iter chained rounds, "
        "all of which amortize at scale (state is built once per graph, "
        "not per round)."),
    "dedup_exact": (
        "Exact dedup by content hash",
        "One `Exchange hashpartitioning(content_hash)` with partial_min/"
        "partial_count BEFORE it (map-side combine): the shuffle carries "
        "one row per distinct hash per input partition, not one per "
        "document. sha2 runs inside whole-stage codegen in the scan "
        "stage. This is the cheapest possible shape for exact dedup at "
        "any corpus size."),
    "dedup_keep": (
        "Exact-dedup survivor table (keep min id per hash)",
        "The survivor is selected by `min_by(struct(row), id)` on the "
        "hash key, NOT a row_number window: `partial_min_by` runs "
        "BEFORE the exchange, so the shuffle carries one candidate row "
        "per distinct hash per input partition where the window ships "
        "every row. The struct buffer plans as SortAggregate (local "
        "sorts around a slim exchange) — local CPU traded for shuffle "
        "volume. The oracle keeps the window formulation to prove the "
        "aggregate is equivalent."),
    "dedup_winnow": (
        "Winnowing fingerprints (shared-passage primitive)",
        "Pure per-document computation: the rolling-hash window minima "
        "run as an Arrow-batched `pandas_udf` (`ArrowEvalPython` — "
        "numpy per batch, never per-row Python) followed by a "
        "Generate(explode); the only exchange is the explicit "
        "repartition lifting a single-split parquet input to full "
        "parallelism for the CPU-bound kernel. No keyed shuffle: "
        "fingerprinting 100 TB is embarrassingly parallel, and "
        "downstream joins on fp pay their own key-partitioned "
        "exchange."),
    "dedup_cosine": (
        "Embedding-cosine near-dup pairs (blocked GEMM)",
        "Candidates are an equi-join on the block column (`Exchange "
        "hashpartitioning(label)`), never a cross join; per-block pair "
        "scoring runs as one numpy GEMM per partition inside "
        "`FlatMapGroupsInPandas` (Arrow-batched), so the O(k²·d) inner "
        "loop is BLAS, not Python rows. Pair volume is bounded by "
        "max-block-size², a data property the caller controls via the "
        "blocking key."),
    "embedding_centroids": (
        "Per-label centroid components (vector rollup)",
        "posexplode turns each vector into (label, pos, v) rows and the "
        "aggregate partial-combines map-side: the exchange carries "
        "|labels| × dim partial sums per input partition — independent "
        "of row count. This is the sufficient-statistics shape every "
        "vector rollup here uses (k-means shares it with k×dim column "
        "aggregates instead of explode)."),
    "ann_lsh_join": (
        "Sign-LSH bucketed similarity join",
        "Both sides bucket on the same 8 literal hyperplanes (fixed "
        "seed, so Spark and DuckDB compute identical buckets) and meet "
        "in an EQUI-join keyed on the bucket — at this sf AQE plans it "
        "as a broadcast of the smaller side; past broadcast size it "
        "degrades gracefully to `Exchange hashpartitioning(bucket)`. "
        "Candidates are O(N²/2⁸) in expectation, exact cosine re-scored "
        "on candidates only; never an all-pairs nested-loop join."),
    "events_sessionize": (
        "Per-user session windows (10-minute gap)",
        "Spark's native session-window aggregate: a partial "
        "HashAggregate BEFORE the single keyed exchange, then the "
        "dedicated `MergingSessions` operator coalesces overlapping "
        "sessions per user — no self-join, no global window, one "
        "shuffle. The identical expression runs under Structured "
        "Streaming with watermark state (the streaming twin is tested "
        "with availableNow triggers)."),
    "events_retention": (
        "Cohort retention triangle",
        "Per-user first-activity date is a min-aggregate (partial-"
        "combined, one user-keyed exchange), the corpus anchor date is "
        "a 1-row broadcast (explicitly NOT an empty-partitionBy window, "
        "which would funnel the corpus through one task), and the "
        "triangle is a countDistinct over (cohort, weeks_since) — two "
        "keyed shuffles total, the minimum for exact distinct users."),
    "tfidf_top_terms": (
        "TF-IDF keyword extraction (top-3 terms per doc)",
        "The (doc, term, tf) relation materializes once (lazy "
        "localCheckpoint — it feeds both the corpus-DF aggregate and "
        "the scoring join; measured 2.7s -> 1.0s). The DF relation is "
        "vocabulary-sized and BROADCASTS back onto tf "
        "(`BroadcastExchange`, corpus never reshuffles for the join); "
        "the final top-3 is a per-doc window over the already-doc-"
        "partitioned scored relation."),
    "quality_unigram": (
        "Unigram-fluency quality score",
        "The vocabulary count relation is exact-integer and broadcast "
        "onto the exploded token stream (`BroadcastExchange` on the "
        "vocab side; strategy selectable for vocabularies past broadcast "
        "size); per-document re-aggregation shuffles on doc_id only. "
        "Corpus bytes are scanned once."),
    "user_spend_trend": (
        "Per-user OLS spend slope (grouped regression)",
        "The closed-form sufficient statistics (n, Σx, Σy, Σxy, Σx²) "
        "compute in ONE map-side-combined aggregate per user — no "
        "window, no iteration, no second scan. Integer cents and day "
        "indices make every partial sum an exact bigint, so the plan is "
        "also bit-deterministic under any partitioning. The grouped-"
        "regression shape scales to any key count."),
    "incremental_revenue": (
        "Incrementally-maintained monthly rollup",
        "The history aggregate is a manifest-committed snapshot built "
        "once per source fingerprint; each refresh scans ONLY the delta "
        "— `PushedFilters` shows the cutoff predicate at the parquet "
        "scan — and merges months × measures partial aggregates. At "
        "100 TB the full-history scan happens once ever, not per "
        "refresh; exact-cents quantization makes the merged totals "
        "bit-equal to a from-scratch aggregate."),
    "split_leakage_safe": (
        "Leakage-safe train/val/test split",
        "Composes the prefix-filter Jaccard join (keyed exchanges only, "
        "see dedup_jaccard) with pointer-jumping connected components "
        "(O(log diameter) keyed self-join rounds; driver union-find "
        "below the declared small-graph bound) and an md5 bucket on the "
        "cluster ROOT — so near-duplicate documents land in the same "
        "split by construction. No stage is all-pairs; the split "
        "decision itself is a pure per-row hash."),
    "pipeline_clean_corpus": (
        "Composed cleaning pipeline (quality -> lang -> dedup -> affix "
        "-> chunk)",
        "The quality and language gates are pure-Catalyst predicates "
        "evaluated in the scan stage BEFORE the dedup exchange — only "
        "surviving rows shuffle. The affix stage (round 7) drops "
        "truncation duplicates both directions: the dedup survivors are "
        "lazily localCheckpointed ONCE and read by three consumers (the "
        "prefix- and suffix-bucketed pair self-joins and the anti-join's "
        "left side) instead of re-running the filter+dedup pipeline per "
        "consumer; the duplicate-id relation is fanout-bounded "
        "(max_bucket² per bucket) so the left-anti join's build side "
        "stays small. Chunking is a Generate(explode), never a driver "
        "loop. Keyed exchanges only — the dedup hash plus the two affix "
        "bucket keys over the (much smaller) survivor relation."),
    "ingest_embed": (
        "Bulk embedding ingest (MakeRecord batch twin)",
        "The embedder is an Arrow-batched `pandas_udf` (`ArrowEvalPython` "
        "in the plan — never row-at-a-time Python), and the repartition "
        "barrier both lifts a single-split parquet input to full "
        "parallelism for the CPU-bound stage and materializes the "
        "vector so downstream projections don't re-embed. Embedding is "
        "the textbook scan-parallel stage: zero exchanges beyond the "
        "explicit repartition."),
}


def _capture_formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _lm_perplexity_df(spark, sf_dir: str):
    """Library-only operator (no queries() entry — the round-3 surface
    freeze): train on half the documents, score the other half."""
    from go_simple_embedding_database_spark.operators.lm import (
        score_perplexity, train_bigram_lm)
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    return score_perplexity(docs.filter(F.col("doc_id") % 2 == 1), lm)


def _bpe_iteration_df(spark, sf_dir: str):
    """Library-only operator: the per-iteration plan of bpe_train — the
    weighted adjacent-pair count + argmax over the vocabulary relation
    (the part that repeats K times; the one corpus scan is the plain
    word_counts aggregate)."""
    from pyspark.sql import functions as F

    from go_simple_embedding_database_spark.operators import bpe
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = (bpe.word_counts(docs, "text")
             .select(bpe._initial_symbols(F.col("word")).alias("syms"),
                     "n"))
    return (bpe.pair_counts(vocab)
            .orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
            .limit(1))


# Library operators without a queries() entry: name -> (title, comment,
# builder). Same rendering as the driver queries.
EXTRA_SECTIONS = {
    "bpe_iteration": (
        "BPE merge iteration (library operator)",
        "One bpe_train iteration: the vocabulary's symbol arrays "
        "explode to weighted adjacent pairs, hash-aggregate with "
        "map-side partials to the pair vocabulary, and the argmax is "
        "`TakeOrderedAndProject` (one driver row per iteration). The "
        "merge rewrite itself is an `F.aggregate` HOF in a projection — "
        "no Python, no window, no sort; after the single word_counts "
        "corpus scan, every exchange here is vocabulary-sized.",
        _bpe_iteration_df),
    "lm_perplexity": (
        "Bigram-LM perplexity scoring (library operator)",
        "Scoring is explode + two LEFT `BroadcastHashJoin`s against the "
        "count relations + one per-doc hash aggregate — no window, no "
        "sort, and the exchanges carry (doc_id, token keys, counts), "
        "never document text. The model side is two broadcast relations "
        "(reference-vocabulary-sized); `broadcast_model=False` swaps "
        "them to shuffle hash joins when a model outgrows executors.",
        _lm_perplexity_df),
}


def main() -> None:
    import __spark_entry__ as em
    from go_simple_embedding_database_spark.session import get_spark

    spark = get_spark(app_name="plans-report")
    # retired gate queries keep their PLANS.md sections: the
    # implementations still ship as library code with plan contracts
    qs = dict(em.queries(), **em.RETIRED_QUERIES)
    qs = dict(qs, **{n: b for n, (_t, _c, b) in EXTRA_SECTIONS.items()})
    out = [
        "# PLANS — physical-plan review of the headline operators",
        "",
        f"Generated by `tools/plans_report.py` at sf_dir=`{SF_DIR}` "
        "(plan SHAPE is scale-invariant; only statistics change with sf). "
        "Each section lists the property the plan must exhibit to survive "
        "a 100x scale-up — the same properties `tests/test_plans.py` "
        "asserts — followed by `explain('formatted')` output.",
        "",
    ]
    sections = dict(COMMENTARY,
                    **{n: (t, c) for n, (t, c, _b) in EXTRA_SECTIONS.items()})
    for name, (title, comment) in sections.items():
        df = qs[name](spark, SF_DIR)
        plan = _capture_formatted(df)
        # Strip volatile ids/paths so the artifact diffs cleanly.
        plan = re.sub(r"file:[^\s,\]]+", "file:<path>", plan)
        plan = plan.replace(SF_DIR, "<sf_dir>")
        # Keep it reviewable: the operator TREE (everything up to the
        # per-node detail dump) plus just the detail lines that carry the
        # scale evidence (scan pushdown / schema pruning / partition
        # pruning). The full dump is one `df.explain("formatted")` away.
        lines = plan.splitlines()
        tree_end = next((i for i, l in enumerate(lines)
                         if re.match(r"^\(\d+\) ", l)), len(lines))
        tree = lines[:tree_end]
        if len(tree) > 150:
            # Iterative operators (connected components) drag the whole
            # cached-round lineage into the tree dump — cap it.
            tree = tree[:150] + [
                f"... ({len(lines[:tree_end]) - 150} more tree lines — "
                "cached iteration lineage elided)"]
        evidence = [l for l in lines[tree_end:]
                    if re.search(r"PushedFilters|PartitionFilters|"
                                 r"ReadSchema|Arguments: \[plan_id", l)
                    and "PushedFilters: []" not in l]
        plan = "\n".join(tree).rstrip()
        if evidence:
            plan += "\n\n-- scan evidence --\n" + "\n".join(
                f"  {l.strip()}" for l in evidence[:40])
        out += [
            f"## {name} — {title}",
            "",
            comment,
            "",
            "```",
            plan.rstrip(),
            "```",
            "",
        ]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({len(COMMENTARY) + len(EXTRA_SECTIONS)} sections)")


if __name__ == "__main__":
    main()
