"""The benchmark workloads, each driving the engine's public API.

A workload has a ``prepare`` (data generation, staging, and the
collection or index build), a ``warm_up`` (one untimed op of every kind
it runs) and an ``op`` (one unit of client work, returning the items it
completed). ``op`` raises ``CheckFailed`` when an output is wrong. Each
workload records the spans of its traced ops and the layer metrics only
it can measure.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from collections import defaultdict

import numpy as np

import datagen
from spans import job_counters, python_rows

EMBEDDER = "mock-hash-64"
WRONG_EMBEDDER = "mock-constant"
K = 10


class CheckFailed(Exception):
    pass


def rows_per_s(make_frame, rows: int, reps: int = 3) -> float:
    """``rows`` over the median time of collecting ``make_frame()``. A
    fresh frame each time: collecting the same frame again reuses its
    finished shuffle stages and skips most of the work."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        make_frame().collect()
        times.append(time.perf_counter() - t)
    return rows / statistics.median(times)


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Word n-gram shingles of a generated text (lowercase ASCII words
    separated by single spaces), computed independently of the engine."""
    ws = text.split()
    if len(ws) <= n:
        return {" ".join(ws)} if ws else set()
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def topk_parity(scores: np.ndarray, got: dict[int, float], k: int,
                tol: float = 1e-9) -> bool:
    """Returned (id -> score) agrees with brute-force ``scores``: k ids,
    every id scoring above the k-th score returned, no id below it
    returned (ties at the k-th score may go either way), and each
    returned score equal to the brute-force one."""
    if len(got) != min(k, len(scores)):
        return False
    kth = np.sort(scores)[::-1][len(got) - 1]
    must = set(np.flatnonzero(scores > kth + tol).tolist())
    may = set(np.flatnonzero(scores >= kth - tol).tolist())
    ids = set(got)
    return (must <= ids <= may
            and all(abs(scores[i] - s) <= tol for i, s in got.items()))


def kmeans(x: np.ndarray, k: int, iters: int,
           rng: np.random.Generator) -> np.ndarray:
    """Lloyd's k-means from ``k`` distinct sample points."""
    c = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(iters):
        label = np.argmin((c * c).sum(1) - 2.0 * x @ c.T, axis=1)
        for j in range(k):
            members = x[label == j]
            if len(members):
                c[j] = members.mean(axis=0)
    return c


class Workload:
    name = ""
    cycle = 1          # ops per cycle; a run ends on a whole cycle

    def __init__(self, spark, seed: int, workdir: str, tracer, tiny: bool):
        from go_simple_embedding_database_spark import SparkEmbeddingDatabase
        from pyspark.sql import functions as F

        self.spark, self.seed, self.workdir = spark, seed, workdir
        self.tracer, self.tiny = tracer, tiny
        self.sc = spark.sparkContext
        self.F = F
        self.Database = SparkEmbeddingDatabase
        self.counters = defaultdict(float)   # summed over traced ops
        self.layer: dict[str, float] = {}     # measured once per run
        self.checks = defaultdict(lambda: [0, 0])  # name -> [passed, failed]
        self.hits = self.answers = 0
        self.group = "perfbench"

    # -- helpers -----------------------------------------------------------

    def check(self, name: str, ok: bool) -> None:
        self.checks[name][0 if ok else 1] += 1
        if not ok:
            raise CheckFailed(name)

    def begin_op(self, i: int) -> None:
        self.group = f"perfbench-op-{i}" if self.tracer.enabled else \
            "perfbench"
        self.sc.setJobGroup(self.group, self.group)

    def end_op(self) -> None:
        if self.tracer.enabled:
            for key, v in job_counters(self.sc, self.group).items():
                self.counters[key] += v
            self.counters["ops"] += 1

    def collect(self, df, name: str, queries: int = 0):
        """Run ``df``'s action under a ``spark`` span. In a traced op also
        read the frame's shuffle bytes and, for a frame answering
        ``queries`` exact-search queries, its Python-boundary rows; that
        is done under a ``trace`` span in another job group, so the op's
        counters and wall time exclude it."""
        with self.tracer.span(name + ".action", "spark"):
            rows = df.collect()
        if self.tracer.enabled:
            from go_simple_embedding_database_spark.plans.exchange_metrics \
                import exchange_metrics
            with self.meta():
                self.counters["shuffle_bytes"] += \
                    exchange_metrics(df)["shuffle_bytes_total"]
                if queries:
                    self.counters["python_rows"] += python_rows(df)
                    self.counters["python_queries"] += queries
        return rows

    @contextlib.contextmanager
    def meta(self):
        """Counter collection inside a traced op: its own job group and a
        ``trace`` span, whose time the harness takes out of the op."""
        self.sc.setJobGroup("perfbench-meta", "perfbench-meta")
        try:
            with self.tracer.span("trace.counters", "trace"):
                yield
        finally:
            self.sc.setJobGroup(self.group, self.group)

    def answer_recall(self) -> float:
        return self.hits / self.answers if self.answers else 0.0

    # -- per workload ------------------------------------------------------

    def prepare(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> int:
        raise NotImplementedError

    def measure_layers(self) -> None:
        """Standalone per-layer passes of the traced run (after the
        measured phase)."""

    def sizes(self) -> dict:
        raise NotImplementedError


class BatchSearch(Workload):
    """Each op answers one batch of query vectors over a clustered corpus
    read from parquet (not cached by Spark) twice: exactly with
    ``batch_topk`` and approximately with ``ivf_query_index_batch`` over
    a k-means IVF index built at set-up."""

    name = "batch_search"

    def sizes(self) -> dict:
        return {"corpus": 1_000 if self.tiny else 10_000, "dim": 64,
                "batch": 16 if self.tiny else 64, "k": K, "cells": 32,
                "nprobe": 2, "kmeans_iters": 10, "true_clusters": 48,
                "spread": 0.9, "query_spread": 0.9, "parity_sample": 4}

    def _queries(self, b: int):
        s = self.sizes()
        return datagen.mixture_queries(
            datagen.rng_for(self.seed, f"bs.q{b}"), self.centres,
            s["batch"], s["query_spread"])

    def prepare(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from go_simple_embedding_database_spark.operators import ann

        s = self.sizes()
        self.centres, x = datagen.clustered_vectors(
            datagen.rng_for(self.seed, "bs.corpus"), s["corpus"], s["dim"],
            s["true_clusters"], s["spread"])
        self.xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        # Stage as one parquet file per core, as a bulk export would.
        self.corpus_path = os.path.join(self.workdir, "corpus")
        os.makedirs(self.corpus_path)
        parts = self.sc.defaultParallelism
        for p, idx in enumerate(np.array_split(np.arange(len(x)), parts)):
            emb = pa.ListArray.from_arrays(
                pa.array(np.arange(len(idx) + 1, dtype=np.int32) * s["dim"]),
                pa.array(x[idx].ravel()))
            pq.write_table(pa.table({"vec_id": pa.array(idx, pa.int64()),
                                     "embedding": emb}),
                           os.path.join(self.corpus_path, f"part-{p}.parquet"))
        corpus = self.spark.read.parquet(self.corpus_path)
        # The cells are trained here rather than with MLlib KMeans
        # (operators.ann.kmeans_centroids), whose cold start alone costs
        # about 12 s of the run's set-up budget on 4 cores.
        cents = kmeans(x, s["cells"], s["kmeans_iters"],
                       datagen.rng_for(self.seed, "bs.kmeans"))
        centroids = self.spark.createDataFrame(
            [(j, [float(v) for v in c]) for j, c in enumerate(cents)],
            "centroid_id bigint, centroid array<double>")
        self.index_path = os.path.join(self.workdir, "ivf")
        t = time.perf_counter()
        ann.ivf_write_index(corpus, centroids, self.index_path)
        self.layer["operators.ann.ivf_write_index_s"] = time.perf_counter() - t
        # Cell sizes for the traced run's scored fraction (nearest centroid
        # by cosine, as the index assigns them).
        self.cent_n = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        self.cell_rows = np.bincount(
            np.argmax(self.xn @ self.cent_n.T, axis=1), minlength=len(cents))

    def warm_up(self) -> None:
        self.op(-1)
        self.hits = self.answers = 0

    def _query_frame(self, q: np.ndarray):
        return self.spark.createDataFrame(
            [(j, [float(v) for v in row]) for j, row in enumerate(q)],
            "query_id long, query_embedding array<double>")

    def op(self, i: int) -> int:
        from go_simple_embedding_database_spark.operators import ann, topk

        s, tr = self.sizes(), self.tracer
        q = self._queries(i)
        qn = q / np.linalg.norm(q, axis=1, keepdims=True)
        qdf = self._query_frame(q)
        corpus = self.spark.read.parquet(self.corpus_path)
        with tr.span("operators.topk.batch_topk.build", "operators.topk"):
            df = topk.batch_topk(corpus, qdf, K, records_id="vec_id",
                                 attach_payload=False)
        exact = self._answers(self.collect(df, "operators.topk.batch_topk",
                                           queries=len(q)))
        ok = len(exact) == len(q)
        for j in range(min(s["parity_sample"], len(q))):
            ok = ok and topk_parity(self.xn @ qn[j], exact[j], K)
        self.check("exact_numpy_parity", ok)
        with tr.span("operators.ann.ivf_query_index_batch.build",
                     "operators.ann"):
            df = ann.ivf_query_index_batch(
                self.spark, self.index_path, qdf, K, nprobe=s["nprobe"]) \
                .select("query_id", "vec_id", "score")
        got = self._answers(self.collect(
            df, "operators.ann.ivf_query_index_batch"))
        self.check("ivf_k_rows_and_scores", len(got) == len(q) and all(
            len(v) == K and all(abs(float(self.xn[vid] @ qn[j]) - sc) <= 1e-9
                                for vid, sc in v.items())
            for j, v in got.items()))
        for j, ids in exact.items():
            self.hits += len(set(ids) & set(got.get(j, {})))
            self.answers += len(ids)
        if tr.enabled:
            self.counters["scored_fraction"] += self._scored_fraction(q)
            self.counters["ivf_ops"] += 1
        return 2 * len(q)

    @staticmethod
    def _answers(rows) -> dict[int, dict[int, float]]:
        got: dict[int, dict[int, float]] = defaultdict(dict)
        for r in rows:
            got[r["query_id"]][r["vec_id"]] = r["score"]
        return got

    def _scored_fraction(self, q: np.ndarray) -> float:
        """Mean over queries of (corpus rows in the ``nprobe`` cells whose
        centroids are most similar) / corpus rows."""
        qn = q / np.linalg.norm(q, axis=1, keepdims=True)
        probe = np.argsort(-(qn @ self.cent_n.T), axis=1,
                           kind="stable")[:, :self.sizes()["nprobe"]]
        return float(self.cell_rows[probe].sum(axis=1).mean()
                     / self.cell_rows.sum())

    def measure_layers(self) -> None:
        from go_simple_embedding_database_spark.functions.kernels import (
            cosine_pairs_kernel)
        F = self.F
        q = self._query_frame(self._queries(10_000)[:16])
        corpus = self.spark.read.parquet(self.corpus_path)
        n = corpus.count() * q.count()
        with self.tracer.span("functions.kernels.cosine_pairs",
                              "functions.kernels"):
            self.layer["functions.kernels.score_rows_per_s"] = rows_per_s(
                lambda: corpus.crossJoin(F.broadcast(q)).select(
                    cosine_pairs_kernel(F.col("embedding"),
                                        F.col("query_embedding")).alias("s"))
                .agg(F.sum("s")), n)


class IngestDedup(Workload):
    """Each op ingests one batch with planted faults: ``make_records``,
    ``add_records(on_violation="skip")``, ``minhash_dedup`` over the
    batch, and one ``query`` of a just-ingested blob; every second batch
    also ``compact``."""

    name = "ingest_dedup"
    cycle = 2          # the second op of each cycle compacts

    def sizes(self) -> dict:
        return {"batch": 200 if self.tiny else 1_000, "k": K,
                "compact_every": self.cycle, "dedup_threshold": 0.7}

    def prepare(self) -> None:
        """An empty collection; the warm-up batch is its first content."""
        self.db = self.Database(self.spark)
        self.db.add_collection("c", EMBEDDER)
        self.rng = datagen.rng_for(self.seed, "ingest")
        self.taken: set[str] = set()
        self.prior_ids: list[str] = []
        self.compact_root = os.path.join(self.workdir, "compact")
        self.batch_no = 0
        self.pairs_planted = self.pairs_found = 0

    def warm_up(self) -> None:
        self.op(-1)         # a whole batch, including a compact
        self.pairs_planted = self.pairs_found = 0

    def op(self, i: int) -> int:
        from go_simple_embedding_database_spark.operators.dedup import (
            minhash_candidate_pairs, minhash_dedup)

        F, tr, db = self.F, self.tracer, self.db
        s = self.sizes()
        batch = datagen.ingest_batch(self.rng, self.batch_no, s["batch"],
                                     self.prior_ids, self.taken)
        self.batch_no += 1
        with tr.span("database.make_records", "database"):
            rows = self.spark.createDataFrame(batch.rows,
                                              "id string, blob string")
            wrong = self.spark.createDataFrame(batch.mismatched,
                                               "id string, blob string")
            recs = db.make_records(rows, EMBEDDER)
            bad = db.make_records(wrong, WRONG_EMBEDDER)
            with tr.span("database.make_records.action", "spark"):
                made = recs.count() + bad.count()
        self.check("batch_size", made == batch.size)
        with tr.span("database.add_records", "database"):
            v = db.add_records("c", recs.unionByName(bad),
                               on_violation="skip")
            counts = dict(self.collect(v.groupBy("violation").count(),
                                       "database.add_records"))
        if tr.enabled:
            self.counters["violations"] += sum(counts.values())
        self.check("violation_counts", counts == {
            k: n for k, n in (("duplicate id", batch.dup_ids),
                              ("embedder mismatch", len(batch.mismatched)))
            if n})
        docs = recs.select(F.col("id").alias("doc_id"),
                           F.col("blob").alias("text"))
        with tr.span("operators.dedup.minhash_dedup", "operators.dedup"):
            pairs_df = minhash_dedup(docs, threshold=s["dedup_threshold"])
            pairs = self.collect(pairs_df, "operators.dedup.minhash_dedup")
        text = dict(batch.rows)
        found = {(r["id_a"], r["id_b"]) for r in pairs}
        self.check("dedup_pairs_jaccard", all(
            r["jaccard"] >= s["dedup_threshold"]
            and jaccard(text[r["id_a"]], text[r["id_b"]])
            >= s["dedup_threshold"] for r in pairs))
        self.pairs_planted += len(batch.near_dup_pairs)
        self.pairs_found += len(found & set(batch.near_dup_pairs))
        if tr.enabled:
            with self.meta():
                self.counters["candidate_pairs"] += \
                    minhash_candidate_pairs(docs).count()
                self.counters["verified_pairs"] += len(found)
            from go_simple_embedding_database_spark.functions import (
                embedders)
            emb = embedders.get_embedder(EMBEDDER)
            with tr.span("functions.embedders.embed_one",
                         "functions.embedders"):
                emb.embed_one(batch.probe_blob)
        with tr.span("database.query.build", "database"):
            q = db.query("c", batch.probe_blob, K, with_scores=True)
        got = self.collect(q, "database.query", queries=1)
        best = max(got, key=lambda r: r["_score"]) if got else None
        self.check("read_your_writes",
                   best is not None and best["id"] == batch.probe_id)
        self.prior_ids += list(dict.fromkeys(
            rid for rid, _ in batch.rows
            if rid.startswith(f"b{self.batch_no - 1}-")))
        if (i + 1) % self.cycle == 0:
            with tr.span("database.compact", "database"):
                db.compact(os.path.join(self.compact_root,
                                        f"c{self.batch_no}"))
        return batch.size

    def answer_recall(self) -> float:
        return (self.pairs_found / self.pairs_planted
                if self.pairs_planted else 0.0)

    def measure_layers(self) -> None:
        from go_simple_embedding_database_spark.functions.kernels import (
            cosine_scores_kernel)
        from go_simple_embedding_database_spark.functions.text import (
            shingles_kernel)
        F = self.F
        recs = self.db.records_df("c").select("blob", "embedding") \
            .localCheckpoint()
        n = recs.count()
        q = [float(x) for x in recs.first()["embedding"]]
        with self.tracer.span("functions.kernels.cosine_scores",
                              "functions.kernels"):
            self.layer["functions.kernels.score_rows_per_s"] = rows_per_s(
                lambda: recs.select(cosine_scores_kernel(
                    F.col("embedding"), q).alias("s")).agg(F.sum("s")), n)
        with self.tracer.span("functions.text.shingles", "functions.text"):
            self.layer["functions.text.shingle_rows_per_s"] = rows_per_s(
                lambda: recs.select(F.size(shingles_kernel(F.col("blob")))
                                    .alias("s")).agg(F.sum("s")), n)


WORKLOADS = {w.name: w for w in (BatchSearch, IngestDedup)}
