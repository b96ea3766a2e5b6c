"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed``; the same seed gives byte-identical inputs, another seed gives
other inputs. The engine only ever sees the generated rows.

- Text: words drawn from a fixed vocabulary with Zipf-distributed
  frequencies, documents of varied length, all distinct (a repeated text
  would tie at score 1.0 and make the top-1 self-hit check ambiguous).
- Ingest batches: fresh records plus planted faults whose counts are
  known exactly: duplicate ids (inside the batch and against records
  already ingested), records embedded with the wrong embedder, and
  near-duplicate texts (one word substituted in a long document).
- Vectors: a Gaussian mixture whose clusters overlap, so that an IVF
  index with nprobe < cells misses some true neighbours and its recall
  means something.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 5000
ZIPF_S = 1.1
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a draw to one
    stream never shifts another's inputs."""
    return np.random.default_rng([seed, *stream.encode()])


def vocabulary(size: int = VOCAB_SIZE) -> list[str]:
    """Fixed lowercase ASCII words; rank 0 is the most frequent."""
    words = []
    for i in range(size):
        w, n = "", i + 26 * 26
        while n:
            n, r = divmod(n, 26)
            w = _LETTERS[r] + w
        words.append(w)
    return words


def zipf_weights(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def zipf_picks(rng: np.random.Generator, n_items: int, n_picks: int,
               s: float = ZIPF_S) -> np.ndarray:
    """Indices into ``n_items`` with Zipf skew over a seeded permutation
    (the popular items are not simply the first ones)."""
    perm = rng.permutation(n_items)
    return perm[rng.choice(n_items, size=n_picks, p=zipf_weights(n_items, s))]


def texts(rng: np.random.Generator, n: int, min_words: int = 8,
          max_words: int = 64, taken: set[str] | None = None) -> list[str]:
    """``n`` distinct Zipf-vocabulary documents of ``min_words`` to
    ``max_words`` words, none of them in ``taken`` (updated in place)."""
    vocab = np.asarray(vocabulary())
    p = zipf_weights(len(vocab))
    taken = set() if taken is None else taken
    out: list[str] = []
    while len(out) < n:
        need = n - len(out)
        lengths = rng.integers(min_words, max_words + 1, size=need)
        flat = vocab[rng.choice(len(vocab), size=int(lengths.sum()), p=p)]
        pos = 0
        for ln in lengths:
            t = " ".join(flat[pos:pos + ln])
            pos += ln
            if t not in taken:
                taken.add(t)
                out.append(t)
    return out


def near_duplicate(rng: np.random.Generator, text: str) -> str:
    """``text`` with one interior word replaced by a different word."""
    words = text.split(" ")
    vocab = vocabulary()
    i = int(rng.integers(1, len(words) - 1))
    repl = words[i]
    while repl == words[i]:
        repl = vocab[int(rng.integers(len(vocab)))]
    words[i] = repl
    return " ".join(words)


@dataclass
class IngestBatch:
    """One ingest batch and the faults planted in it."""

    rows: list[tuple[str, str]]        # (id, blob), the collection's embedder
    mismatched: list[tuple[str, str]]  # (id, blob), the wrong embedder
    dup_ids: int                       # rows to be rejected as duplicate ids
    near_dup_pairs: list[tuple[str, str]]  # (id_a, id_b), id_a < id_b
    probe_id: str                      # a fresh row read back after insert
    probe_blob: str

    @property
    def size(self) -> int:
        return len(self.rows) + len(self.mismatched)


def ingest_batch(rng: np.random.Generator, batch_no: int, size: int,
                 prior_ids: list[str], taken: set[str],
                 dup_share: float = 0.02, mismatch_share: float = 0.02,
                 near_dup_share: float = 0.04) -> IngestBatch:
    """A batch of ``size`` records. Duplicate ids are planted half against
    ``prior_ids`` (already in the collection) and half as exact resends
    inside the batch; every other id is fresh. Near-duplicate partners get
    fresh ids, so a planted pair is never also a duplicate-id or mismatch
    violation."""
    n_dup = int(size * dup_share)
    n_mis = int(size * mismatch_share)
    n_near = int(size * near_dup_share)
    n_fresh = size - n_dup - n_mis - n_near
    fresh_ids = [f"b{batch_no}-{i}" for i in range(n_fresh + n_near + n_mis)]
    bases = texts(rng, n_fresh, taken=taken)
    rows = list(zip(fresh_ids[:n_fresh], bases))
    # Near-duplicates: partners of the longest fresh documents, where one
    # substituted word keeps the word-3-shingle Jaccard well above 0.7.
    long_idx = [i for i in np.argsort([-len(b.split(" ")) for b in bases],
                                      kind="stable")[:n_near]]
    pairs = []
    for j, i in enumerate(long_idx):
        nid = fresh_ids[n_fresh + j]
        t = near_duplicate(rng, bases[i])
        while t in taken:
            t = near_duplicate(rng, bases[i])
        taken.add(t)
        rows.append((nid, t))
        pairs.append(tuple(sorted((rows[i][0], nid))))
    n_prior = min(n_dup // 2, len(prior_ids))
    # Against the collection: an old id with a new text.
    prior = ([prior_ids[int(k)] for k in
              rng.choice(len(prior_ids), size=n_prior, replace=False)]
             if n_prior else [])
    rows += list(zip(prior, texts(rng, n_prior, taken=taken)))
    # Inside the batch: an exact resend of a fresh record that is not a
    # near-duplicate base, so whichever copy is kept the text is the same.
    resend_from = sorted(set(range(n_fresh)) - set(long_idx))
    resent = [rows[int(k)] for k in
              rng.choice(resend_from, size=n_dup - n_prior, replace=False)]
    rows += resent
    mismatched = list(zip(fresh_ids[n_fresh + n_near:],
                          texts(rng, n_mis, taken=taken)))
    order = rng.permutation(len(rows))
    rows = [rows[int(k)] for k in order]
    skip = {i for p in pairs for i in p} | {r[0] for r in resent}
    probe = next(r for r in rows[::-1] if r[0].startswith(f"b{batch_no}-")
                 and r[0] not in skip)
    return IngestBatch(rows, mismatched, n_dup, sorted(pairs), probe[0],
                       probe[1])


def clustered_vectors(rng: np.random.Generator, n: int, dim: int,
                      clusters: int, spread: float) -> tuple[np.ndarray,
                                                             np.ndarray]:
    """(centres, vectors): ``n`` draws from a mixture of ``clusters``
    isotropic Gaussians around standard-normal centres."""
    centres = rng.standard_normal((clusters, dim))
    labels = rng.integers(0, clusters, size=n)
    return centres, centres[labels] + spread * rng.standard_normal((n, dim))


def mixture_queries(rng: np.random.Generator, centres: np.ndarray, n: int,
                    spread: float) -> np.ndarray:
    labels = rng.integers(0, len(centres), size=n)
    return centres[labels] + spread * rng.standard_normal(
        (n, centres.shape[1]))
