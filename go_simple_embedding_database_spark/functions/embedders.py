"""Embedder registry — the engine's UDF surface.

Reference parity (/root/reference/embedders/embedders.go):
- a global registry name → embedding function (embedders.go:14)
- ``get_embedder`` resolution precedence: exact registry hit, then a
  ``hugging-face/<model>`` prefix that dispatches to the HuggingFace
  Inference API, else "Invalid embedder name" (embedders.go:83-95)
- the reference POSTs ONE blob per HTTP call (embedders.go:40-51) — its
  dominant cost (README.md:40-41). Here remote embedding is Arrow-batched:
  one HTTP call per pandas batch, ~10-100× fewer round trips.

Each embedder exposes three faces so every layer of the engine can use it:
- ``embed_one(blob)``  — driver-side single embed (query-vector path,
  mirrors the reference's embed-the-query step, collection/collection.go:70)
- ``column(col)``      — a Spark Column transform for bulk ingest. The
  constant mocks compile to literal arrays; mock-hash-64 and the remote
  embedder are pandas_udfs.
- ``oracle_sql(expr)`` — (mocks only) the DuckDB SQL string computing the
  identical vector, so the driver's oracle can reproduce embeddings exactly.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import urllib.request
from dataclasses import dataclass
from typing import Callable

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

from go_simple_embedding_database_spark.errors import InvalidEmbedderError

HASH_DIM = 64
_TWO_32 = 4294967296.0  # 2^32; md5 prefix is 8 hex chars = 32 bits


# ---------------------------------------------------------------------------
# mock-hash-64: blob -> deterministic 64-dim unit vector.
# Recipe (identical in Python / Spark SQL / DuckDB SQL), designed so the
# variable-length blob is hashed exactly ONCE no matter the dimension —
# at 100 TB the blob hash dominates, so dims derive from the fixed 32-char
# seed digest (4 dims per short md5, 16 short hashes total):
#   seed   = md5(blob)                                  (hex, 32 chars)
#   raw_i  = int(md5(seed + ":" + str(i//4))[8*(i%4) : 8*(i%4)+8], 16)
#            / 2^32 * 2 - 1                             (i in 0..63)
#   vec    = raw / ||raw||
# ---------------------------------------------------------------------------

def _hash64_py(blob: str) -> list[float]:
    # (blob or ""): a NULL blob embeds as the empty string — the bulk
    # face below calls this function, so both faces agree on it.
    seed = hashlib.md5((blob or "").encode("utf-8")).hexdigest()
    raw = []
    for block in range(HASH_DIM // 4):
        digest = hashlib.md5(f"{seed}:{block}".encode("utf-8")).hexdigest()
        for part in range(4):
            raw.append(
                int(digest[8 * part: 8 * part + 8], 16) / _TWO_32 * 2.0 - 1.0
            )
    norm = math.sqrt(sum(v * v for v in raw))
    return [v / norm for v in raw] if norm else raw


def _hash64_pandas_column(blob: Column) -> Column:
    """Arrow-batched bulk face of the recipe: ``_hash64_py`` per blob, so
    a stored vector is bit-identical to the query vector ``embed_one``
    computes for the same blob (a numpy pairwise sum for the norm
    differed from the Python left fold in the last bit on ~45% of
    blobs, scoring a just-ingested blob 0.9999999999999999). Measured at
    sf0.1 (5000 docs, local[32]): 3.5s vs 40s for a pure-Catalyst
    md5/conv/substring HOF tree of the same recipe, which cannot
    whole-stage-codegen; "UDFs are the slow path" loses to measurement
    here."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def _embed(texts: pd.Series) -> pd.Series:
        return pd.Series([_hash64_py(t) for t in texts])

    return _embed(blob)


def hash64_oracle_sql(text_expr: str) -> str:
    """DuckDB SQL producing the identical mock-hash-64 vector for
    ``text_expr`` (a SQL expression of type VARCHAR)."""
    raw = (
        f"flatten([[CAST(concat('0x', substr(md5(md5({text_expr}) || ':' || b), 1 + p*8, 8)) AS BIGINT)"
        f" / {_TWO_32} * 2.0 - 1.0 for p in range(4)] for b in range({HASH_DIM} // 4)])"
    )
    return (
        f"list_transform({raw}, v -> v / sqrt(list_sum(list_transform({raw}, u -> u*u))))"
    )


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Embedder:
    name: str
    dim: int | None
    embed_one: Callable[[str], list[float]]
    column: Callable[[Column], Column]
    oracle_sql: Callable[[str], str] | None = None


def _constant_vec() -> list[float]:
    # The reference test mock: every blob -> [1,2,3,4,5]
    # (database/database_test.go:15-17) — the all-ties fixture.
    return [1.0, 2.0, 3.0, 4.0, 5.0]


def _raise_mock_error(_: str) -> list[float]:
    raise InvalidEmbedderError("mock-error embedder always fails")


EMBEDDER_REGISTRY: dict[str, Embedder] = {}


def register_embedder(embedder: Embedder) -> None:
    """Parity with EmbedderRegister map insertion (embedders.go:14)."""
    EMBEDDER_REGISTRY[embedder.name] = embedder


register_embedder(
    Embedder(
        name="mock-constant",
        dim=5,
        embed_one=lambda blob: _constant_vec(),
        column=lambda blob: F.array(*[F.lit(v) for v in _constant_vec()]),
        oracle_sql=lambda e: "[1.0, 2.0, 3.0, 4.0, 5.0]",
    )
)
register_embedder(
    Embedder(
        name="mock-zero",
        dim=5,
        embed_one=lambda blob: [0.0] * 5,
        column=lambda blob: F.array(*[F.lit(0.0)] * 5),
        oracle_sql=lambda e: "[0.0, 0.0, 0.0, 0.0, 0.0]",
    )
)
register_embedder(
    Embedder(
        name="mock-hash-64",
        dim=HASH_DIM,
        embed_one=_hash64_py,
        column=_hash64_pandas_column,
        oracle_sql=hash64_oracle_sql,
    )
)
register_embedder(
    Embedder(
        name="mock-error",
        dim=None,
        embed_one=_raise_mock_error,
        column=lambda blob: F.raise_error(F.lit("mock-error embedder always fails")).cast(
            "array<double>"
        ),
    )
)


# ---------------------------------------------------------------------------
# hugging-face/<model>: batched remote embedding.
# ---------------------------------------------------------------------------

HF_PREFIX = "hugging-face/"
_HF_URL = "https://api-inference.huggingface.co/pipeline/feature-extraction/{model}"


def _hf_api_key() -> str:
    # Same env contract as the reference (embedders.go:28-31).
    key = os.environ.get("HUGGING_FACE_API_KEY", "")
    if not key:
        # message parity: embedders.go:30
        raise InvalidEmbedderError("HUGGING_FACE_API_KEY environment variable not set.")
    return key


def _hf_post(model: str, texts: list[str], api_key: str) -> list[list[float]]:
    """ONE HTTP call for a whole batch of texts (the reference does one call
    per text, embedders.go:40-51 — batching is the scalable fix). Raises on
    non-200 with context instead of panicking (embedders.go:50-75).

    ``api_key`` is passed in, never read from the environment here: this
    runs inside executor Python workers, whose env does not inherit the
    driver's shell — the key is captured driver-side in ``_hf_embedder``
    (which also fails fast before any scan starts, matching the
    reference's factory-time check, embedders.go:28-31)."""
    body = json.dumps(
        {"inputs": texts, "options": {"use_cache": True, "wait_for_model": True}}
    ).encode("utf-8")
    req = urllib.request.Request(
        _HF_URL.format(model=model),
        data=body,
        headers={
            "Authorization": f"Bearer {api_key}",
            "Content-Type": "application/json",
        },
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        if resp.status != 200:
            raise InvalidEmbedderError(f"HF API returned status {resp.status} for {model}")
        out = json.loads(resp.read().decode("utf-8"))
    return out


def _hf_embedder(model: str) -> Embedder:
    # Key contract (parity with the reference closure, embedders.go:28-31):
    # RESOLUTION needs no key; the key is read when an embed is requested.
    # Crucially it is read DRIVER-side — embed_one directly, and column()
    # when the expression is built — and the closure ships the VALUE to
    # executors, whose environment does not inherit the driver's shell
    # (reading os.environ inside the udf would fail mid-scan on a real
    # cluster even with the key exported where the job launched).

    def embed_one(blob: str) -> list[float]:
        return _hf_post(model, [blob], _hf_api_key())[0]

    def column(blob: Column) -> Column:
        from pyspark.sql.functions import pandas_udf

        api_key = _hf_api_key()  # driver-side, fails fast before the scan

        @pandas_udf("array<double>")
        def _embed(texts: pd.Series) -> pd.Series:
            # One HTTP round trip per Arrow batch (<=10k rows by default),
            # executed on executors in parallel across partitions.
            vecs = _hf_post(model, texts.fillna("").tolist(), api_key)
            return pd.Series(vecs)

        return _embed(blob)

    return Embedder(name=HF_PREFIX + model, dim=None, embed_one=embed_one, column=column)


def get_embedder(name: str) -> Embedder:
    """Resolution precedence of GetEmbedderFunc (embedders.go:83-95):
    exact registry hit → hugging-face/ prefix factory → error."""
    if name in EMBEDDER_REGISTRY:
        return EMBEDDER_REGISTRY[name]
    if name.startswith(HF_PREFIX):
        return _hf_embedder(name[len(HF_PREFIX):])
    raise InvalidEmbedderError(f"Invalid embedder name {name}")
