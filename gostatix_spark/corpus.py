"""Deterministic synthetic tokenized corpus (FIXTURES.md F1).

Schema per BASELINE.json ``input_hint``:
``(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)``.

All randomness is derived from counter-based hash mixing (splitmix-style
fmix64 over (seed, doc_index, token_index)) — NO stateful RNG — so any
row is reproducible from its index alone. That makes generation
embarrassingly parallel AND partition-layout invariant: the same doc
index always yields the same row regardless of how Spark splits the
range. Token ids follow Zipf(a=1.1) over a 50_257 vocab via inverse-CDF
lookup; lengths are LogNormal(μ=5, σ=1) clipped to [1, 2048] via
Box-Muller on two hash-derived uniforms; ``source`` is the skewed
categorical {web .60, books .20, code .15, wiki .05}.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

VOCAB = 50_257
ZIPF_A = 1.1
SOURCES = np.array(["web", "books", "code", "wiki"])
SOURCE_CDF = np.array([0.60, 0.80, 0.95, 1.00])

_zipf_cdf_cache: np.ndarray | None = None


def _zipf_cdf() -> np.ndarray:
    global _zipf_cdf_cache
    if _zipf_cdf_cache is None:
        w = 1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** ZIPF_A
        _zipf_cdf_cache = np.cumsum(w / w.sum())
        _zipf_cdf_cache[-1] = 1.0
    return _zipf_cdf_cache


def _mix(x: np.ndarray) -> np.ndarray:
    """fmix64 — a strong counter-based mixer (same finalizer murmur3
    uses); input uint64, output uint64."""
    x = x ^ (x >> np.uint64(33))
    x = x * np.uint64(0xFF51AFD7ED558CCD)
    x = x ^ (x >> np.uint64(33))
    x = x * np.uint64(0xC4CEB9FE1A85EC53)
    x = x ^ (x >> np.uint64(33))
    return x


def _uniform(idx: np.ndarray, seed: int, stream: int) -> np.ndarray:
    """U(0,1) derived from (seed, stream, idx) — deterministic."""
    u = _mix(idx.astype(np.uint64)
             ^ np.uint64((seed * 0x9E3779B97F4A7C15 + stream * 0xBF58476D1CE4E5B9)
                         & 0xFFFFFFFFFFFFFFFF))
    return (u >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def doc_lengths(idx: np.ndarray, seed: int, mu: float = 5.0,
                sigma: float = 1.0, max_len: int = 2048) -> np.ndarray:
    u1 = np.clip(_uniform(idx, seed, 1), 1e-12, 1.0)
    u2 = _uniform(idx, seed, 2)
    z = np.sqrt(-2.0 * np.log(u1)) * np.cos(2 * np.pi * u2)
    return np.clip(np.round(np.exp(mu + sigma * z)), 1, max_len).astype(np.int32)


def doc_sources(idx: np.ndarray, seed: int) -> np.ndarray:
    u = _uniform(idx, seed, 3)
    return SOURCES[np.searchsorted(SOURCE_CDF, u, side="right").clip(0, 3)]


def doc_tokens_flat(idx: np.ndarray, lengths: np.ndarray, seed: int) -> np.ndarray:
    """Flat int32 token stream for the given docs (concatenated)."""
    doc_rep = np.repeat(idx.astype(np.uint64), lengths)
    tok_pos = np.concatenate([np.arange(l, dtype=np.uint64) for l in lengths]) \
        if len(lengths) else np.zeros(0, np.uint64)
    u = _uniform(doc_rep * np.uint64(0x100000001) + tok_pos, seed, 4)
    toks = np.searchsorted(_zipf_cdf(), u, side="right") + 1
    return toks.astype(np.int32)


def generate_table(idx: np.ndarray, seed: int = 42, mu: float = 5.0,
                   sigma: float = 1.0, max_len: int = 2048) -> pa.Table:
    lengths = doc_lengths(idx, seed, mu, sigma, max_len)
    sources = doc_sources(idx, seed)
    flat = doc_tokens_flat(idx, lengths, seed)
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat))
    doc_ids = pa.array([f"doc-{i:012d}" for i in idx])
    return pa.Table.from_arrays(
        [doc_ids, tokens, pa.array(lengths), pa.array(sources)],
        names=["doc_id", "tokens", "n_tok", "source"])


def corpus_df(spark: SparkSession, n_docs: int, seed: int = 42,
              partitions: int | None = None, mu: float = 5.0,
              sigma: float = 1.0, max_len: int = 2048) -> DataFrame:
    """Distributed deterministic corpus: spark.range → mapInArrow.

    Row content depends only on (seed, doc index), so the result is
    byte-identical at any partition count — the property the
    partition-invariance tests (FIXTURES.md F4) rely on.

    ``mu``/``sigma``/``max_len`` shape the LogNormal sequence-length
    distribution. Defaults (mean ≈ 244 tokens) match the original
    document-like fixture; the throughput bench uses a
    training-sequence shape (mu=7.0, sigma=0.75, clip 8192 → mean
    ≈ 1.5k tokens), the realistic unit for the north rule's
    "pre-tokenized training sequences".
    """
    from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                                   StructField, StructType)
    schema = StructType([
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType(), False), False),
        StructField("n_tok", IntegerType(), False),
        StructField("source", StringType(), False)])

    def gen(batches):
        for batch in batches:
            ids = batch.column("id").to_numpy()
            if len(ids) == 0:
                continue
            yield from generate_table(ids.astype(np.int64), seed, mu, sigma,
                                      max_len).to_batches()

    rng = spark.range(n_docs, numPartitions=partitions)
    return rng.mapInArrow(gen, schema)
