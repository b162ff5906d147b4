"""Embedding operators (SURVEY V1).

The reference embeds with sentence-transformers (384-dim, MiniLM/E5 —
rag_shared/config.py:24-25) through a batched in-process model. This
engine keeps the same shape — a batched, Arrow-fed pandas UDF producing
``array<float>`` of fixed dim — with a pluggable backend:

- `hash_embedder`: deterministic seeded token-hash embedder (the test
  double from FIXTURES.md §3): each token hashes to a stable pseudo-
  random unit pattern; a document embeds as the L2-normalized sum of
  its token vectors (weighted by count). Similarity is token-overlap-
  meaningful, fully reproducible across runs/engines.
- a sentence-transformers backend can be slotted in behind the same
  UDF signature where the library is available (not in this container).

Scale notes: embedding is the canonical Arrow-batched UDF workload —
per-partition batches, zero shuffle; at 100 TB you size the batch via
`spark.sql.execution.arrow.maxRecordsPerBatch` and pin model replicas
per executor.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

EMBED_DIM = 384  # reference: rag_shared/config.py:25

# per-worker token-vector cache: {dim: {token: vec}}; capped so a
# pathological vocabulary (minified JS, hashes) can't grow unbounded —
# at 384-d float64 the cap bounds each worker at ~200 MB
_TOKEN_VEC_MEMO: dict[int, dict[str, np.ndarray]] = {}
_TOKEN_VEC_MEMO_CAP = 65_536


def _token_vector(token: str, dim: int) -> np.ndarray:
    """Stable pseudo-random vector for one token: sha256-expanded bytes
    mapped to [-0.5, 0.5)."""
    raw = b"".join(
        hashlib.sha256(f"{b}:{token}".encode()).digest() for b in range((dim + 31) // 32)
    )
    return np.frombuffer(raw, dtype=np.uint8, count=dim).astype(np.float64) / 255.0 - 0.5


def embed_batch(texts, dim: int = EMBED_DIM) -> np.ndarray:
    """Deterministic document embeddings, (len(texts), dim) float64: each
    row is the L2-normalized sum of its tokens' vectors (zeros for no
    tokens). One token-vector matrix serves the batch vocabulary
    (corpora repeat tokens heavily), then one fancy-index + sum per
    document instead of a per-token loop. Token vectors memoize across
    batches and calls: Spark reuses the Python worker process, and the
    vocabulary is tiny relative to total token count, so the sha256
    expansion runs once per distinct token per process (capped to bound
    memory)."""
    memo = _TOKEN_VEC_MEMO.setdefault(dim, {})
    doc_tokens = [(t or "").lower().split() for t in texts]
    vocab: dict[str, int] = {}
    for toks in doc_tokens:
        for tok in toks:
            if tok not in vocab:
                vocab[tok] = len(vocab)
    mat = np.zeros((max(len(vocab), 1), dim))
    for tok, i in vocab.items():
        vec = memo.get(tok)
        if vec is None:
            vec = _token_vector(tok, dim)
            if len(memo) < _TOKEN_VEC_MEMO_CAP:
                memo[tok] = vec
        mat[i] = vec

    out = np.zeros((len(doc_tokens), dim))
    for row, toks in zip(out, doc_tokens):
        if toks:
            acc = mat[[vocab[t] for t in toks]].sum(axis=0)
            n = np.linalg.norm(acc)
            row[:] = acc / n if n > 0 else acc
    return out


def embed_text(text: str, dim: int = EMBED_DIM) -> np.ndarray:
    """One document's embedding (float64): the query-side `embed_batch`."""
    return embed_batch([text], dim)[0]


_EMBEDDER_CACHE: dict[int, object] = {}


def make_hash_embedder(dim: int = EMBED_DIM):
    """Build the batched embedding UDF (array<float> of `dim`).

    Cached per dim: each pandas_udf construction cloudpickles the
    closure over py4j, which adds up when the 5-scope ingest plan
    builds the embedder once per scope."""
    cached = _EMBEDDER_CACHE.get(dim)
    if cached is not None:
        return cached

    @pandas_udf("array<float>")
    def hash_embed(texts: pd.Series) -> pd.Series:
        return pd.Series(embed_batch(texts, dim).astype(np.float32).tolist())

    _EMBEDDER_CACHE[dim] = hash_embed
    return hash_embed


def with_embedding(
    df,
    text_col: str = "text",
    out_col: str = "vector",
    dim: int = EMBED_DIM,
    embedder=None,
):
    """Attach embeddings through the pluggable embedder seam.

    `embedder` is any callable mapping a text Column to an
    ``array<float>`` Column — typically a `pandas_udf` wrapping a real
    model (sentence-transformers slots in here); defaults to the
    deterministic hash embedder. Output width is dim-checked row-wise
    at runtime: a model whose vector width disagrees with the
    configured store dim fails the job on the first mismatching row
    (SURVEY §7.3's embedding-model-ambiguity mitigation) instead of
    silently writing ragged vectors that corrupt every downstream
    cosine."""
    fn = embedder if embedder is not None else make_hash_embedder(dim)
    out = df.withColumn(out_col, fn(F.col(text_col)))
    return out.withColumn(
        out_col,
        F.when(F.size(F.col(out_col)) == dim, F.col(out_col)).otherwise(
            F.raise_error(
                F.format_string(
                    f"embedding dim mismatch: expected {dim}, got %s",
                    F.size(F.col(out_col)),
                )
            )
        ),
    )
