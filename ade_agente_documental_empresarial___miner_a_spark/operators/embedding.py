"""Embedding — SURVEY §2 T5.

Reference: ``micro-infobot/app.py:122,130`` embeds chunks with OpenAI
ada-002 (1536-d) over HTTPS inside ``Chroma.from_documents``. The engine's
embedder is pluggable; the default is a **seeded deterministic hashing
projection** (no network — test-exact, per SURVEY §5): tokens are hashed
with md5(seed:token) to a bucket and a sign, accumulated, then
L2-normalized. A production deployment swaps in a service-backed
``mapInPandas`` embedder with identical schema.

Embedding is per-row map work — no shuffle, scales linearly with
partitions at 100 TB. Two Arrow-batched boundaries call one core,
``embed_vector``: the ``pandas_udf`` of ``embed_text_udf`` /
``with_embeddings``, and the index build's fused chunk-and-embed pass
(``plans/pipeline.build_chunks``). The core caches each token's
md5 → (slot, sign) step: a corpus repeats a few thousand distinct tokens
over a hundred thousand token occurrences.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

DEFAULT_DIM = 64  # matches the embeddings fixture (ada-002 would be 1536)
DEFAULT_SEED = 42


@functools.lru_cache(maxsize=1 << 16)
def _token_slot(tok: str, dim: int, seed: int) -> tuple[int, float]:
    """md5(seed:token) → (bucket, sign) of one token."""
    h = hashlib.md5(f"{seed}:{tok}".encode("utf-8")).digest()
    return int.from_bytes(h[:4], "little") % dim, 1.0 if h[4] & 1 else -1.0


def embed_vector(text: str, dim: int = DEFAULT_DIM, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Deterministic hashing-projection embedding of one string, as a
    float32 vector. The ±1 sums are integers, so summing them in Python
    floats is exact and the vector does not depend on token order."""
    acc = [0.0] * dim
    if text:
        for tok in text.lower().split():
            idx, sign = _token_slot(tok, dim, seed)
            acc[idx] += sign
    vec = np.array(acc)
    n = float(np.linalg.norm(vec))
    if n > 0:
        vec = vec / n
    return vec.astype(np.float32)


def embed_one(text: str, dim: int = DEFAULT_DIM, seed: int = DEFAULT_SEED) -> list[float]:
    """Deterministic hashing-projection embedding of one string."""
    return embed_vector(text, dim, seed).tolist()


def embed_text_udf(dim: int = DEFAULT_DIM, seed: int = DEFAULT_SEED):
    """Arrow-batched pandas_udf: STRING -> ARRAY<FLOAT>."""

    @F.pandas_udf(ArrayType(FloatType()))
    def _embed(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: embed_one(t, dim, seed))

    return _embed


def mllib_tfidf_embeddings(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "embedding",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """MLlib offline alternative (SURVEY §2.3 T5): HashingTF → IDF,
    emitted as the same ``ARRAY<FLOAT>`` schema as the default embedder
    so every downstream operator (top-k, LSH, dedup) is drop-in. Batch
    pipeline: fit on the corpus, transform, convert vector → array."""
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer
    from pyspark.ml.functions import vector_to_array

    tok = Tokenizer(inputCol=text_col, outputCol="_words")
    tf = HashingTF(inputCol="_words", outputCol="_tf", numFeatures=dim)
    words = tf.transform(tok.transform(df))
    idf = IDF(inputCol="_tf", outputCol="_tfidf").fit(words)
    out = idf.transform(words)
    return out.withColumn(
        out_col, vector_to_array(F.col("_tfidf")).cast("array<float>")
    ).drop("_words", "_tf", "_tfidf")


def with_embeddings(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "embedding",
    dim: int = DEFAULT_DIM,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    # keep the Arrow/Python boundary spread over all cores (AQE would
    # otherwise coalesce a small upstream shuffle to 1 task)
    from .dedup import spread

    df = spread(df)
    return df.withColumn(out_col, embed_text_udf(dim, seed)(F.col(text_col)))
