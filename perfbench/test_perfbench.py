"""Tests of the benchmark itself: python -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

import datagen
from run import E2E_UNITS, LAYER_UNITS, tail
from spans import Tracer
from workloads import WORKLOADS, jaccard, topk_parity

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _inputs(seed: int):
    rng = datagen.rng_for(seed, "t")
    taken: set[str] = set()
    b0 = datagen.ingest_batch(rng, 0, 300, [], taken)
    b1 = datagen.ingest_batch(rng, 1, 300, [i for i, _ in b0.rows], taken)
    _, x = datagen.clustered_vectors(rng, 50, 8, 4, 0.5)
    return (datagen.texts(rng, 20), datagen.zipf_picks(rng, 100, 30).tolist(),
            b0, b1, x.tolist())


def test_generator_same_seed_same_inputs_other_seed_other_inputs():
    assert _inputs(7) == _inputs(7)
    a, b = _inputs(7), _inputs(8)
    assert all(x != y for x, y in zip(a, b))


def test_ingest_batch_planted_faults_are_exact():
    rng = datagen.rng_for(3, "t")
    taken: set[str] = set()
    b0 = datagen.ingest_batch(rng, 0, 500, [], taken)
    prior = list(dict.fromkeys(i for i, _ in b0.rows))
    b1 = datagen.ingest_batch(rng, 1, 500, prior, taken)
    for b, before in ((b0, set()), (b1, set(prior))):
        assert b.size == 500
        ids = [i for i, _ in b.rows]
        # duplicates = later copies inside the batch + ids already stored
        dups = len(ids) - len(set(ids)) + len(set(ids) & before)
        assert dups == b.dup_ids == 10
        assert len(b.mismatched) == 10
        assert not {i for i, _ in b.mismatched} & (set(ids) | before)
        text = dict(b.rows)
        assert len(b.near_dup_pairs) == 20
        assert all(jaccard(text[p], text[q]) >= 0.8
                   for p, q in b.near_dup_pairs)
        assert text[b.probe_id] == b.probe_blob and ids.count(b.probe_id) == 1
    # exact resends carry the same text, so no id has two texts but one
    # planted against the collection
    assert len({t for _, t in b1.rows}) == len(b1.rows) - 5


def test_texts_are_distinct_zipf_documents():
    ts = datagen.texts(datagen.rng_for(1, "t"), 2000)
    assert len(set(ts)) == 2000
    counts: dict[str, int] = {}
    for t in ts:
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    vocab = datagen.vocabulary()
    assert counts[vocab[0]] > 10 * counts.get(vocab[100], 1)


def test_topk_parity_allows_ties_at_kth_only():
    s = np.array([0.9, 0.8, 0.5, 0.5, 0.1])
    assert topk_parity(s, {0: 0.9, 1: 0.8, 2: 0.5}, 3)
    assert topk_parity(s, {0: 0.9, 1: 0.8, 3: 0.5}, 3)
    assert not topk_parity(s, {0: 0.9, 2: 0.5, 3: 0.5}, 3)
    assert not topk_parity(s, {0: 0.9, 1: 0.8, 2: 0.4}, 3)


def test_tail_is_highest_percentile_with_ten_beyond():
    assert tail(list(range(100))) == (89, 90.0, 100)
    assert tail(list(range(7))) == (3, 100.0 * 4 / 7, 7)


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("a", "database"):
        with tr.span("b", "spark"):
            pass
    tr.spans[0].update(start=0.0, end=1.0)
    tr.spans[1].update(start=0.25, end=0.75)
    got = tr.self_seconds()
    assert got["database"] == 0.5 and got["spark"] == 0.5
    with tr.span("c", "database"):
        with tr.span("trace.counters", "trace"):
            pass
    tr.spans[2].update(start=2.0, end=3.0)
    tr.spans[3].update(start=2.5, end=2.75)
    assert tr.durations("a") == [1.0] and tr.durations("c") == [0.75]
    assert Tracer(False).span("x", "nope") is Tracer(False).span("y", "z")


def test_benchmark_json_names_every_emitted_metric():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=900)


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_run_passes_checks_and_emits_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
             "--trace", trace, "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    spec = _spec()["per_layer" if trace == "1" else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in spec}
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "point_query", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
