"""V1 embedder seam hardening (SURVEY §7.3 mitigation).

The reference's embedding model is configured, not hardcoded
(rag_shared/config.py:24-25); the engine mirrors that as the
`embedder=` seam on with_embedding / finalize_vectors /
ingest_pipeline. These tests plug an arbitrary "real-model stand-in"
pandas UDF through the seam and pin the dim guard: a model whose
output width disagrees with the configured store dim must fail the
job, not silently write ragged vectors.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from githubrepostorag_spark.functions.embed import with_embedding
from githubrepostorag_spark.llm.stub import DeterministicLLM
from githubrepostorag_spark.plans.ingest import ingest_pipeline
from tests.fixtures_corpus import corpus_df


def _fake_model(dim: int):
    """Arbitrary batched embedder with a non-default width — the shape a
    sentence-transformers wrapper would have."""

    @pandas_udf("array<float>")
    def fake(texts: pd.Series) -> pd.Series:
        return pd.Series([[float(len(t or "") % 7)] * dim for t in texts])

    return fake


def test_custom_embedder_plugs_through_with_embedding(spark):
    df = spark.createDataFrame([("hello world",), ("",)], "text string")
    out = with_embedding(df, dim=8, embedder=_fake_model(8)).collect()
    assert all(len(r.vector) == 8 for r in out)


def test_dim_guard_fails_fast_on_width_mismatch(spark):
    df = spark.createDataFrame([("hello world",)], "text string")
    # declared store dim 384, model emits 8 → job must fail, not write
    bad = with_embedding(df, dim=384, embedder=_fake_model(8))
    with pytest.raises(Exception, match="dim mismatch"):
        bad.collect()


def test_ingest_pipeline_accepts_custom_embedder(spark):
    res = ingest_pipeline(
        corpus_df(spark),
        ingest_run_id="run-seam",
        llm_factory=DeterministicLLM,
        namespace="seam",
        embedder=_fake_model(16),
        embed_dim=16,
    )
    dims = res.rows.select(F.size("vector").alias("d")).distinct().collect()
    assert [r.d for r in dims] == [16]


@pytest.mark.parametrize("dim", [384, 100])
def test_token_vector_matches_per_block_formula(dim):
    """One joined buffer gives bit-identical vectors to the per-digest
    formula it replaced (kept here as the reference)."""
    import hashlib

    import numpy as np

    from githubrepostorag_spark.functions.embed import _token_vector

    def reference(token: str) -> np.ndarray:
        chunks = []
        for b in range((dim + 31) // 32):
            digest = hashlib.sha256(f"{b}:{token}".encode()).digest()
            chunks.append(np.frombuffer(digest, dtype=np.uint8).astype(np.float64))
        return np.concatenate(chunks)[:dim] / 255.0 - 0.5

    for token in ("def", "retry_timeout", "x", "", "naïve", "日本語", "emoji🙂", "Ünïcödé::path"):
        got = _token_vector(token, dim)
        assert got.shape == (dim,) and got.dtype == np.float64
        assert got.tobytes() == reference(token).tobytes()


def test_query_and_udf_embeddings_match_per_token_loop(spark):
    """The query path (`embed_text`, float64) and the hash-embedder UDF
    (float32) share one batch function; both equal the per-token loop
    (kept here as the reference) bit for bit, on ASCII and non-ASCII
    texts of 0-400 tokens."""
    import random

    import numpy as np

    from githubrepostorag_spark.functions.embed import _token_vector, embed_text

    def reference(text, dim=384):
        acc = np.zeros(dim)
        for tok in (text or "").lower().split():
            acc += _token_vector(tok, dim)
        n = np.linalg.norm(acc)
        return acc / n if n > 0 else acc

    rng = random.Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz_.:()ÄöüßÉ日本語🙂"
    texts = [
        " ".join(
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 8)))
            for _ in range(rng.randint(0, 400))
        )
        for _ in range(500)
    ] + ["", None, "  \n "]
    for t in texts:
        want, got = reference(t), embed_text(t)
        assert got.dtype == np.float64 and got.tobytes() == want.tobytes()
        assert np.float32(got).tobytes() == np.float32(want).tobytes()

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts[:40] + texts[-3:])],
                               "i int, text string")
    for r in with_embedding(df).collect():
        want = np.float32(reference(r.text))
        assert np.asarray(r.vector, dtype=np.float32).tobytes() == want.tobytes()
