"""Structured Streaming ingest: file source → embed → dedup → parquet sink,
driven with availableNow triggers; windowed aggregation batch/stream parity."""

import json
import os

import pytest
from pyspark.sql import functions as F

from go_simple_embedding_database_spark.sources.tables import load_table
from go_simple_embedding_database_spark.streaming.ingest import (
    streaming_ingest,
    windowed_event_counts,
)


def _write_batch(d, name, rows):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_streaming_ingest_dedups_and_embeds(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(src, "b1.json", [
        {"id": "a", "blob": "first doc", "ts": "2026-01-01T00:00:00Z"},
        {"id": "b", "blob": "second doc", "ts": "2026-01-01T00:00:01Z"},
        {"id": "a", "blob": "first doc", "ts": "2026-01-01T00:00:00Z"},  # dup
    ])
    q = streaming_ingest(spark, src, sink, ckpt, "mock-hash-64", "streamed")
    q.awaitTermination(120)

    out = spark.read.parquet(sink)
    rows = {r.id: r for r in out.collect()}
    assert set(rows) == {"a", "b"}                     # duplicate dropped
    assert rows["a"].collection_id == "streamed"
    assert len(rows["a"].embedding) == 64

    # restartability: a second batch with one old id and one new id —
    # the checkpoint resumes, within-batch dedup applies again.
    _write_batch(src, "b2.json", [
        {"id": "c", "blob": "third doc", "ts": "2026-01-01T00:10:00Z"},
    ])
    q2 = streaming_ingest(spark, src, sink, ckpt, "mock-hash-64", "streamed")
    q2.awaitTermination(120)
    assert {r.id for r in spark.read.parquet(sink).collect()} == {"a", "b", "c"}


def test_streaming_ingest_drops_retry_with_new_timestamp(spark, tmp_path):
    """At-least-once producers retry a record with a REFRESHED timestamp —
    per-key dedup (dropDuplicatesWithinWatermark) must still drop it;
    deduping on (key, ts) would re-admit it."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(src, "b1.json", [
        {"id": "a", "blob": "first doc", "ts": "2026-01-01T00:00:00Z"},
        {"id": "a", "blob": "first doc", "ts": "2026-01-01T00:03:00Z"},  # retry, new ts
        {"id": "b", "blob": "second doc", "ts": "2026-01-01T00:00:01Z"},
    ])
    q = streaming_ingest(spark, src, sink, ckpt, "mock-hash-64", "streamed")
    q.awaitTermination(120)
    out = spark.read.parquet(sink)
    assert out.count() == 2
    assert {r.id for r in out.collect()} == {"a", "b"}


def test_windowed_event_counts_batch_parity(spark, sf_dir):
    """The same code path aggregates a batch DataFrame — the oracle the
    driver can check; streaming adds only watermark state semantics."""
    events = load_table(spark, sf_dir, "events")
    out = windowed_event_counts(events, window="1 hour")
    total = out.agg(F.sum("n_events").alias("n")).collect()[0].n
    assert total == events.count()
    # windows are aligned hours
    assert all(r.window_start.minute == 0 for r in out.limit(10).collect())


def test_sessionize_batch_semantics(spark):
    """Three events for one user: two within the 10-min gap merge; an event
    at exactly prev + gap ALSO merges (touching boundaries); only a
    strictly larger gap opens a new session."""
    from go_simple_embedding_database_spark.streaming.ingest import sessionize
    rows = [
        (1, "2026-01-01 00:00:00", 1.0),
        (1, "2026-01-01 00:09:59", 2.0),
        (1, "2026-01-01 00:30:00", 4.0),   # > gap after #2 -> new session
        (2, "2026-01-01 00:00:00", 8.0),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    got = {(r.user_id, str(r.session_start), r.n_events, r.sum_value)
           for r in sessionize(df).collect()}
    assert got == {
        (1, "2026-01-01 00:00:00", 2, 3.0),
        (1, "2026-01-01 00:30:00", 1, 4.0),
        (2, "2026-01-01 00:00:00", 1, 8.0),
    }
    # touching boundary merges: event at exactly prev + gap
    touch = spark.createDataFrame(
        [(1, "2026-01-01 00:00:00", 1.0), (1, "2026-01-01 00:10:00", 2.0)],
        "user_id int, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert [r.n_events for r in sessionize(touch).collect()] == [2]


def test_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join (purchase ← preceding clicks of the
    same user within 30 min) over a bounded source must equal the batch
    run of the SAME code path."""
    from go_simple_embedding_database_spark.streaming.ingest import stream_interval_join
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ssj_src")
    events.write.mode("overwrite").parquet(src)

    def split(df):
        purchases = df.filter(F.col("event_type") == "purchase") \
            .select("event_id", "user_id", "ts")
        clicks = df.filter(F.col("event_type") == "click") \
            .select("event_id", "user_id", "ts")
        return stream_interval_join(purchases, clicks, lower="1 day",
                                    watermark="2 days").select(
            "event_id", "event_id_r")

    batch = {(r.event_id, r.event_id_r) for r in
             split(spark.read.parquet(src)).collect()}
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (split(stream).writeStream.format("memory").queryName("ssj")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.event_id, r.event_id_r) for r in
           spark.sql("select * from ssj").collect()}
    assert got == batch and len(batch) > 0


def test_sessionize_streaming_matches_batch(spark, sf_dir, tmp_path):
    """The SAME sessionize code path over a file-source stream with
    availableNow must produce the batch result (complete mode)."""
    from go_simple_embedding_database_spark.streaming.ingest import sessionize
    events = load_table(spark, sf_dir, "events").limit(500)
    src = str(tmp_path / "sess_src")
    events.write.mode("overwrite").parquet(src)
    batch = {(str(r.session_start), r.user_id, r.n_events, r.sum_value)
             for r in sessionize(spark.read.parquet(src)).collect()}

    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (sessionize(stream).writeStream.format("memory").queryName("sess")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(str(r.session_start), r.user_id, r.n_events, r.sum_value)
           for r in spark.sql("select * from sess").collect()}
    assert got == batch


def test_streaming_index_ingest_queryable(spark, tmp_path):
    """Stream blobs into the cell-partitioned IVF index; a query for a
    streamed blob's vector must find it (and the centroids sidecar written
    up front makes the index ann.ivf_query_index-compatible)."""
    from go_simple_embedding_database_spark.functions.embedders import get_embedder
    from go_simple_embedding_database_spark.operators import ann
    from go_simple_embedding_database_spark.streaming.ingest import streaming_index_ingest

    src = str(tmp_path / "idx_src")
    idx = str(tmp_path / "ivf_idx")
    ckpt = str(tmp_path / "idx_ckpt")
    _write_batch(src, "b1.json", [
        {"id": f"d{i}", "blob": f"document number {i} about topic {i % 3}",
         "ts": "2026-01-01T00:00:00Z"}
        for i in range(20)
    ])
    # centroids from the first few blobs' embeddings (deterministic)
    emb = get_embedder("mock-hash-64")
    cents = spark.createDataFrame(
        [(i, emb.embed_one(f"document number {i} about topic {i % 3}"))
         for i in range(4)],
        "centroid_id bigint, centroid array<double>")
    cents.write.parquet(f"{idx}/centroids")

    q = streaming_index_ingest(spark, src, idx, ckpt, "mock-hash-64", cents)
    q.awaitTermination(120)

    qvec = emb.embed_one("document number 7 about topic 1")
    top = ann.ivf_query_index(spark, idx, qvec, 1, nprobe=4, id_col="id")
    rows = top.collect()
    assert rows[0].id == "d7"
    assert rows[0].score == pytest.approx(1.0)


def test_stateful_running_stats_converges_to_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState custom operator: after draining a bounded
    stream, the per-key running stats equal the batch groupBy twin (take
    each key's LAST update across micro-batches)."""
    from go_simple_embedding_database_spark.streaming.stateful import (
        batch_key_stats,
        running_key_stats,
    )
    events = load_table(spark, sf_dir, "events").limit(400) \
        .select("user_id", "value", "ts")
    src = str(tmp_path / "stateful_src")
    # two appends -> multiple files, so maxFilesPerTrigger=1 forces at
    # least one micro-batch boundary through the state merge
    events.filter(F.col("user_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    events.filter(F.col("user_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    stored = spark.read.parquet(src)

    stream = (spark.readStream.schema(stored.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (running_key_stats(stream).writeStream.format("memory")
         .queryName("run_stats").outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    # memory sink in update mode appends every update; keep the last per key
    got_rows = spark.sql("select * from run_stats").collect()
    last = {}
    for r in got_rows:
        prev = last.get(r.user_id)
        if prev is None or r.n_events >= prev.n_events:
            last[r.user_id] = r
    got = {(k, v.n_events, round(v.sum_value, 6), v.last_ts)
           for k, v in last.items()}
    want = {(r.user_id, r.n_events, round(r.sum_value, 6), r.last_ts)
            for r in batch_key_stats(stored).collect()}
    assert got == want


def test_windowed_event_counts_streaming(spark, sf_dir, tmp_path):
    """Drive the SAME aggregation as a real stream from a file source with
    availableNow, complete mode into a memory sink."""
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_src")
    events.limit(200).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = windowed_event_counts(stream, window="1 hour")
    q = (agg.writeStream.format("memory").queryName("win_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select sum(n_events) n from win_counts").collect()[0].n
    assert got == 200


def test_streaming_upsert_latest_version_wins(spark, tmp_path):
    """Two micro-batch files carrying inserts, updates (newer ts wins,
    including two versions of one key INSIDE a batch), and a fresh key:
    the merged table must hold exactly one latest row per key."""
    from go_simple_embedding_database_spark.streaming.ingest import (
        streaming_upsert)

    src = str(tmp_path / "up_src")
    table = str(tmp_path / "up_table")
    ckpt = str(tmp_path / "up_ckpt")
    _write_batch(src, "b1.json", [
        {"id": 1, "text": "one-v1", "ts": "2026-01-01T00:00:00Z"},
        {"id": 2, "text": "two-v1", "ts": "2026-01-01T00:00:00Z"},
    ])
    q = streaming_upsert(spark, src, table, ckpt, ["id"])
    q.awaitTermination(120)

    _write_batch(src, "b2.json", [
        {"id": 2, "text": "two-v2", "ts": "2026-01-01T01:00:00Z"},
        {"id": 2, "text": "two-v3", "ts": "2026-01-01T02:00:00Z"},
        {"id": 3, "text": "three-v1", "ts": "2026-01-01T01:00:00Z"},
    ])
    q = streaming_upsert(spark, src, table, ckpt, ["id"])
    q.awaitTermination(120)

    got = {r.id: r.text for r in spark.read.parquet(table).collect()}
    assert got == {1: "one-v1", 2: "two-v3", 3: "three-v1"}


def test_streaming_upsert_late_old_version_cannot_regress(spark, tmp_path):
    """At-least-once/late-file case (review finding): a later batch
    carrying an OLDER version of a key must not overwrite the newer row
    already in the table — max event time wins across batches, not
    arrival order."""
    from go_simple_embedding_database_spark.streaming.ingest import (
        streaming_upsert)

    src = str(tmp_path / "late_src")
    table = str(tmp_path / "late_table")
    ckpt = str(tmp_path / "late_ckpt")
    _write_batch(src, "b1.json", [
        {"id": 5, "text": "v-new", "ts": "2026-01-02T00:00:00Z"},
    ])
    q = streaming_upsert(spark, src, table, ckpt, ["id"])
    q.awaitTermination(120)
    _write_batch(src, "b2.json", [
        {"id": 5, "text": "v-old-late", "ts": "2026-01-01T00:00:00Z"},
    ])
    q = streaming_upsert(spark, src, table, ckpt, ["id"])
    q.awaitTermination(120)
    got = {r.id: r.text for r in spark.read.parquet(table).collect()}
    assert got == {5: "v-new"}


def test_streaming_upsert_event_time_tie_is_deterministic(spark, tmp_path):
    """Two versions of one key with IDENTICAL event times: the winner is
    the content-hash tiebreak, so (a) re-running the same input from
    scratch picks the same winner (foreachBatch replay idempotence
    depends on this), and (b) the winner doesn't depend on row order in
    the source file (the max_by aggregate sees both orders as the same
    set)."""
    from go_simple_embedding_database_spark.streaming.ingest import (
        streaming_upsert)

    rows = [{"id": 9, "text": "tie-a", "ts": "2026-01-03T00:00:00Z"},
            {"id": 9, "text": "tie-b", "ts": "2026-01-03T00:00:00Z"}]
    winners = []
    for run, batch in enumerate((rows, rows, list(reversed(rows)))):
        src = str(tmp_path / f"tie_src{run}")
        table = str(tmp_path / f"tie_table{run}")
        ckpt = str(tmp_path / f"tie_ckpt{run}")
        _write_batch(src, "b1.json", batch)
        q = streaming_upsert(spark, src, table, ckpt, ["id"])
        q.awaitTermination(120)
        got = spark.read.parquet(table).collect()
        assert len(got) == 1
        winners.append(got[0].text)
    assert winners[0] == winners[1] == winners[2]
    assert winners[0] in ("tie-a", "tie-b")


def test_streaming_upsert_transactional_versions(spark, tmp_path):
    """Transactional sink: each micro-batch commits one manifest
    version; the latest snapshot merges correctly and the pre-merge
    state stays time-travelable."""
    from go_simple_embedding_database_spark.sources import txn
    from go_simple_embedding_database_spark.streaming.ingest import (
        streaming_upsert)

    src = str(tmp_path / "tx_src")
    table = str(tmp_path / "tx_table")
    ckpt = str(tmp_path / "tx_ckpt")
    _write_batch(src, "b1.json", [
        {"id": 1, "text": "one-v1", "ts": "2026-01-01T00:00:00Z"},
    ])
    q = streaming_upsert(spark, src, table, ckpt, ["id"],
                         transactional=True)
    q.awaitTermination(120)
    _write_batch(src, "b2.json", [
        {"id": 1, "text": "one-v2", "ts": "2026-01-02T00:00:00Z"},
        {"id": 2, "text": "two-v1", "ts": "2026-01-01T00:00:00Z"},
    ])
    q = streaming_upsert(spark, src, table, ckpt, ["id"],
                         transactional=True)
    q.awaitTermination(120)

    assert txn.list_versions(table) == [1, 2]
    latest = {r.id: r.text
              for r in txn.read_version(spark, table).collect()}
    assert latest == {1: "one-v2", 2: "two-v1"}
    v1 = {r.id: r.text
          for r in txn.read_version(spark, table, version=1).collect()}
    assert v1 == {1: "one-v1"}


def test_streaming_dedup_ingest_grows_dedup_free_corpus(spark, tmp_path):
    """Batch 1 carries an intra-batch duplicate (one survives); batch 2
    carries a cross-batch duplicate of batch 1 (dropped via the persisted
    band index) plus a genuinely new doc (kept). maxFilesPerTrigger=1
    forces the batches through separate index states."""
    import json as _json

    from go_simple_embedding_database_spark.streaming.ingest import (
        streaming_dedup_ingest)
    src = tmp_path / "src"; src.mkdir()
    a = "the quick brown fox jumps over the lazy dog in the morning sun"
    b = "spark shuffles partition data across executors during wide joins"
    c = "duckdb runs the oracle side of every correctness comparison here"
    f1 = src / "b1.json"
    f1.write_text("\n".join([
        _json.dumps({"doc_id": 1, "text": a}),
        _json.dumps({"doc_id": 2, "text": a}),      # intra-batch dup of 1
        _json.dumps({"doc_id": 3, "text": b}),
    ]))
    import time as _time
    _time.sleep(1.1)  # distinct mtimes => deterministic file order
    f2 = src / "b2.json"
    f2.write_text("\n".join([
        _json.dumps({"doc_id": 10, "text": a}),     # cross-batch dup of 1
        _json.dumps({"doc_id": 11, "text": c}),
    ]))
    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    q = streaming_dedup_ingest(
        spark, str(src), corpus_dir, index_dir,
        checkpoint_dir=str(tmp_path / "ckpt"), threshold=0.9)
    # availableNow drains both files; with the default source ordering the
    # older file forms the earlier micro-batch.
    q.awaitTermination(180)
    got = {r.doc_id for r in spark.read.parquet(corpus_dir).collect()}
    assert got == {1, 3, 11}
    idx_ids = {r.doc_id for r in spark.read.parquet(index_dir).collect()}
    assert idx_ids == {1, 3, 11}  # index grew with exactly the kept docs


def test_streaming_moments_match_batch_covariance(spark, tmp_path):
    """streaming_moments maintains per-batch moments partitions whose
    merged total is BIT-EXACTLY the one-pass moments of everything
    ingested, so covariance derived from the running total equals the
    batch recompute — including the rounded double (same IEEE sequence
    on identical bigints)."""
    import struct

    import numpy as np

    from go_simple_embedding_database_spark.operators import pca
    from go_simple_embedding_database_spark.streaming.ingest import (
        read_running_moments, streaming_moments)

    rng = np.random.RandomState(31)
    x = rng.uniform(-1.0, 1.0, size=(80, 4))
    src = str(tmp_path / "src")
    mpath = str(tmp_path / "moments")
    ckpt = str(tmp_path / "ckpt")

    def vec_df(rows):
        return spark.createDataFrame(
            [(i, [float(v) for v in r]) for i, r in rows],
            "vec_id long, embedding array<double>")

    # part files go directly under src (append mode): the file stream
    # source lists the directory itself, not nested dataset dirs
    vec_df(list(enumerate(x[:50]))).repartition(1) \
        .write.mode("append").parquet(src)
    q = streaming_moments(spark, src, mpath, ckpt, dim=4)
    q.awaitTermination(120)

    full_df = vec_df(list(enumerate(x[:50])))
    want = {(r.dim_i, r.dim_j): r.v
            for r in pca.embedding_moments(full_df, dim=4).collect()}
    got = {(r.dim_i, r.dim_j): r.v
           for r in read_running_moments(spark, mpath).collect()}
    assert got == want

    # second ingestion: the stream resumes from the checkpoint, adds
    # ONLY the new batch's partition, and the running total tracks
    vec_df(list(enumerate(x[50:], start=50))).repartition(1) \
        .write.mode("append").parquet(src)
    q2 = streaming_moments(spark, src, mpath, ckpt, dim=4)
    q2.awaitTermination(120)
    full_df = vec_df(list(enumerate(x)))
    want = {(r.dim_i, r.dim_j): r.v
            for r in pca.embedding_moments(full_df, dim=4).collect()}
    got = {(r.dim_i, r.dim_j): r.v
           for r in read_running_moments(spark, mpath).collect()}
    assert got == want
    assert got[(-1, -1)] == 80

    # covariance from the running moments == batch covariance, bitwise
    inc = {(r.dim_i, r.dim_j): r for r in pca.covariance_from_moments(
        read_running_moments(spark, mpath)).collect()}
    ref = {(r.dim_i, r.dim_j): r
           for r in pca.covariance_long(full_df, dim=4).collect()}
    assert set(inc) == set(ref)
    for k, a in inc.items():
        assert (a.n_vecs, a.cov_num) == (ref[k].n_vecs, ref[k].cov_num)
        assert struct.pack("<d", a.cov) == struct.pack("<d", ref[k].cov)


def test_streaming_moments_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crashed-and-replayed micro-batch
    re-runs write_batch_moments with the SAME batch_id. The
    partition-per-batch dynamic overwrite must leave the running total
    unchanged — replaying must never double-count an additive
    statistic."""
    from go_simple_embedding_database_spark.streaming.ingest import (
        read_running_moments, write_batch_moments)

    mpath = str(tmp_path / "moments")
    batch = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])],
        "vec_id long, embedding array<double>")
    write_batch_moments(batch, 0, mpath, dim=2)
    once = {(r.dim_i, r.dim_j): r.v
            for r in read_running_moments(spark, mpath).collect()}
    write_batch_moments(batch, 0, mpath, dim=2)  # the replay
    twice = {(r.dim_i, r.dim_j): r.v
             for r in read_running_moments(spark, mpath).collect()}
    assert once == twice
    assert twice[(-1, -1)] == 2
    # a genuinely NEW batch still adds
    write_batch_moments(batch, 1, mpath, dim=2)
    more = {(r.dim_i, r.dim_j): r.v
            for r in read_running_moments(spark, mpath).collect()}
    assert more[(-1, -1)] == 4


def test_compact_moments_bitexact_and_fewer_files(spark, tmp_path):
    """VERDICT r09 #5: N-batch ingest + compact == full recompute
    BITWISE (per-cell bigints and the derived rounded double), the
    partition/file count drops, a later batch still adds on top, and
    a second compaction folds the compacted base with the new tail."""
    import glob
    import struct

    import numpy as np

    from go_simple_embedding_database_spark.operators import pca
    from go_simple_embedding_database_spark.streaming.ingest import (
        compact_moments, read_running_moments, write_batch_moments)

    rng = np.random.RandomState(7)
    x = rng.uniform(-1.0, 1.0, size=(40, 3))

    def vec_df(lo, hi):
        return spark.createDataFrame(
            [(i, [float(v) for v in x[i]]) for i in range(lo, hi)],
            "vec_id long, embedding array<double>")

    mpath = str(tmp_path / "moments")
    for b in range(4):
        write_batch_moments(vec_df(b * 8, (b + 1) * 8), b, mpath, dim=3)

    def n_part_dirs():
        return len(glob.glob(f"{mpath}/batch_id=*"))

    assert n_part_dirs() == 4
    before = {(r.dim_i, r.dim_j): r.v
              for r in read_running_moments(spark, mpath).collect()}
    compact_moments(spark, mpath, watermark=3)
    assert n_part_dirs() == 1  # 4 batch partitions -> 1 consolidated
    after = {(r.dim_i, r.dim_j): r.v
             for r in read_running_moments(spark, mpath).collect()}
    assert after == before
    want = {(r.dim_i, r.dim_j): r.v
            for r in pca.embedding_moments(vec_df(0, 32), dim=3).collect()}
    assert after == want

    # re-running the SAME compaction is a no-op (replay idempotence)
    compact_moments(spark, mpath, watermark=3)
    assert n_part_dirs() == 1
    assert {(r.dim_i, r.dim_j): r.v
            for r in read_running_moments(spark, mpath).collect()} == want

    # new batches land beside the compacted base and still add
    write_batch_moments(vec_df(32, 40), 4, mpath, dim=3)
    assert n_part_dirs() == 2
    full = {(r.dim_i, r.dim_j): r.v
            for r in pca.embedding_moments(vec_df(0, 40), dim=3).collect()}
    assert {(r.dim_i, r.dim_j): r.v
            for r in read_running_moments(spark, mpath).collect()} == full

    # second compaction folds (compacted base + batch 4) forward, and
    # covariance off the compacted store equals the scan bitwise
    compact_moments(spark, mpath, watermark=4)
    assert n_part_dirs() == 1
    inc = {(r.dim_i, r.dim_j): r for r in pca.covariance_from_moments(
        read_running_moments(spark, mpath)).collect()}
    ref = {(r.dim_i, r.dim_j): r
           for r in pca.covariance_long(vec_df(0, 40), dim=3).collect()}
    assert set(inc) == set(ref)
    for k, a in inc.items():
        assert (a.n_vecs, a.cov_num) == (ref[k].n_vecs, ref[k].cov_num)
        assert struct.pack("<d", a.cov) == struct.pack("<d", ref[k].cov)

    # compactions only move forward
    import pytest
    with pytest.raises(ValueError, match="behind"):
        compact_moments(spark, mpath, watermark=2)


def test_compact_moments_crashed_cleanup_reads_identically(spark, tmp_path):
    """Crash-safety contract: a compaction that wrote its consolidated
    partition but DIED before deleting the superseded batch partitions
    must leave a store that reads identically (the superseding read
    rule) — and the re-run compaction completes the GC."""
    import glob

    from go_simple_embedding_database_spark.streaming.ingest import (
        compact_moments, read_running_moments, write_batch_moments)

    mpath = str(tmp_path / "moments")
    batch = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])],
        "vec_id long, embedding array<double>")
    write_batch_moments(batch, 0, mpath, dim=2)
    write_batch_moments(batch, 1, mpath, dim=2)
    want = {(r.dim_i, r.dim_j): r.v
            for r in read_running_moments(spark, mpath).collect()}

    # simulate the crash: write ONLY the consolidated partition the way
    # compact_moments does, skipping its GC step
    from pyspark.sql import functions as F
    folded = (spark.read.parquet(mpath).drop("batch_id")
              .groupBy("dim_i", "dim_j").agg(F.sum("v").alias("v"))
              .withColumn("batch_id", F.lit(-2)))  # watermark 1
    (folded.repartition(1).write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(mpath))
    assert len(glob.glob(f"{mpath}/batch_id=*")) == 3  # stale dirs remain
    got = {(r.dim_i, r.dim_j): r.v
           for r in read_running_moments(spark, mpath).collect()}
    assert got == want  # no double count despite the stale partitions
    compact_moments(spark, mpath, watermark=1)  # re-run finishes the GC
    assert len(glob.glob(f"{mpath}/batch_id=*")) == 1
    assert {(r.dim_i, r.dim_j): r.v
            for r in read_running_moments(spark, mpath).collect()} == want


def test_safe_compaction_watermark_from_commit_log(spark, tmp_path):
    """safe_compaction_watermark reads the streaming checkpoint's commit
    log: after an availableNow ingestion it names the newest committed
    batch; compacting at it is safe (a committed batch is never
    replayed by that checkpoint), and a resumed stream lands its next
    batch ABOVE the folded horizon so the running total keeps tracking
    the full recompute."""
    import numpy as np

    from go_simple_embedding_database_spark.operators import pca
    from go_simple_embedding_database_spark.streaming.ingest import (
        compact_moments, read_running_moments, safe_compaction_watermark,
        streaming_moments)

    rng = np.random.RandomState(11)
    x = rng.uniform(-1.0, 1.0, size=(30, 3))
    src = str(tmp_path / "src")
    mpath = str(tmp_path / "moments")
    ckpt = str(tmp_path / "ckpt")

    def vec_df(lo, hi):
        return spark.createDataFrame(
            [(i, [float(v) for v in x[i]]) for i in range(lo, hi)],
            "vec_id long, embedding array<double>")

    # before anything committed: watermark -1 and compaction is a no-op
    assert safe_compaction_watermark(spark, ckpt) == -1
    vec_df(0, 20).repartition(1).write.mode("append").parquet(src)
    q = streaming_moments(spark, src, mpath, ckpt, dim=3)
    q.awaitTermination(120)

    w = safe_compaction_watermark(spark, ckpt)
    assert w >= 0  # at least batch 0 committed
    compact_moments(spark, mpath, w)
    want = {(r.dim_i, r.dim_j): r.v
            for r in pca.embedding_moments(vec_df(0, 20), dim=3).collect()}
    assert {(r.dim_i, r.dim_j): r.v
            for r in read_running_moments(spark, mpath).collect()} == want

    # the resumed stream's next batch id exceeds the folded horizon
    vec_df(20, 30).repartition(1).write.mode("append").parquet(src)
    q2 = streaming_moments(spark, src, mpath, ckpt, dim=3)
    q2.awaitTermination(120)
    assert safe_compaction_watermark(spark, ckpt) > w
    full = {(r.dim_i, r.dim_j): r.v
            for r in pca.embedding_moments(vec_df(0, 30), dim=3).collect()}
    assert {(r.dim_i, r.dim_j): r.v
            for r in read_running_moments(spark, mpath).collect()} == full


def test_compact_moments_stacked_crashed_compactions_read_newest(spark,
                                                                 tmp_path):
    """Two successive compactions that BOTH died before GC leave two
    compacted partitions plus stale batch partitions; the superseding
    read rule must pick only the newest horizon (most negative id) and
    ignore everything else — no double count, no stale fold."""
    import glob

    from pyspark.sql import functions as F

    from go_simple_embedding_database_spark.streaming.ingest import (
        compact_moments, read_running_moments, write_batch_moments)

    mpath = str(tmp_path / "moments")
    batch = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])],
        "vec_id long, embedding array<double>")
    for b in range(4):
        write_batch_moments(batch, b, mpath, dim=2)
    want = {(r.dim_i, r.dim_j): r.v
            for r in read_running_moments(spark, mpath).collect()}
    assert want[(-1, -1)] == 8

    def crashed_compact(watermark):
        # consolidated write exactly as compact_moments does, GC skipped
        from go_simple_embedding_database_spark.streaming.ingest import (
            _effective_moments)
        folded = (_effective_moments(spark.read.parquet(mpath))
                  .filter(F.col("batch_id") <= watermark).drop("batch_id")
                  .groupBy("dim_i", "dim_j").agg(F.sum("v").alias("v"))
                  .withColumn("batch_id", F.lit(-(watermark + 1))))
        (folded.repartition(1).write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(mpath))

    crashed_compact(1)   # covers batches 0-1, leaves them on disk
    crashed_compact(3)   # covers everything incl. the first compaction
    # batch_id dirs now: 0,1,2,3,-2,-4 — six partitions, one authority
    assert len(glob.glob(f"{mpath}/batch_id=*")) == 6
    got = {(r.dim_i, r.dim_j): r.v
           for r in read_running_moments(spark, mpath).collect()}
    assert got == want
    # a finishing compaction GCs all five superseded partitions
    compact_moments(spark, mpath, watermark=3)
    assert len(glob.glob(f"{mpath}/batch_id=*")) == 1
    assert {(r.dim_i, r.dim_j): r.v
            for r in read_running_moments(spark, mpath).collect()} == want
