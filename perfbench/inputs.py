"""Seeded input generators and the exact answers the checks compare to.

Every generator draws from ``numpy.random.default_rng([seed, stream])``,
so one seed always gives the same inputs and the library only ever sees
the generated files. Inputs are written as several parquet files (one
per expected input partition) so that Spark reads them in parallel.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_257
ZIPF_A = 1.1
SOURCES = np.array(["web", "books", "code", "wiki"])
SOURCE_CDF = np.array([0.60, 0.80, 0.95, 1.00])


def rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def write_parts(table: pa.Table, path: str, n_files: int) -> None:
    """Split ``table`` into ``n_files`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def _zipf_cdf() -> np.ndarray:
    w = 1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** ZIPF_A
    cdf = np.cumsum(w / w.sum())
    cdf[-1] = 1.0
    return cdf


def corpus(seed: int, n_docs: int) -> dict:
    """Training-shape token corpus: LogNormal(7.0, 0.75) lengths clipped
    to [1, 8192] (mean about 1.4k tokens), Zipf(1.1) token ids over a
    50,257 vocabulary, and a skewed four-way ``source`` column."""
    r = rng(seed, 1)
    lengths = np.clip(np.round(r.lognormal(7.0, 0.75, n_docs)), 1,
                      8192).astype(np.int32)
    flat = (np.searchsorted(_zipf_cdf(), r.random(int(lengths.sum())),
                            side="right") + 1).astype(np.int32)
    src_code = np.searchsorted(SOURCE_CDF, r.random(n_docs), side="right")
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
    return {"lengths": lengths, "flat": flat, "offsets": offsets,
            "src_code": src_code,
            "doc_ids": np.array([f"s{seed}-d{i}" for i in range(n_docs)])}


def corpus_table(c: dict) -> pa.Table:
    tokens = pa.ListArray.from_arrays(pa.array(c["offsets"]),
                                      pa.array(c["flat"]))
    return pa.Table.from_arrays(
        [pa.array(c["doc_ids"]), tokens, pa.array(c["lengths"]),
         pa.array(SOURCES[c["src_code"]])],
        names=["doc_id", "tokens", "n_tok", "source"])


def keyed_pairs(seed: int, n_keys: int, mean_per_key: float) -> dict:
    """Fine-grained ``(key, elem)`` rows: Poisson(mean) + 1 elements per
    key drawn from a small per-key domain, so keys repeat elements and
    every key's rows are spread over every input partition."""
    r = rng(seed, 2)
    per_key = r.poisson(mean_per_key, n_keys) + 1
    keys = np.repeat(np.arange(n_keys, dtype=np.int64), per_key)
    elems = r.integers(0, 4 * int(mean_per_key) + 4, len(keys),
                       dtype=np.int64)
    order = r.permutation(len(keys))
    keys, elems = keys[order], elems[order]
    # exact distinct count per key
    pair = np.unique(keys * (1 << 20) + elems)
    distinct = np.bincount(pair >> 20, minlength=n_keys)
    return {"keys": keys, "elems": elems, "distinct": distinct}


def keyed_table(k: dict) -> pa.Table:
    return pa.Table.from_arrays(
        [pa.array(np.char.add("k", k["keys"].astype(str))),
         pa.array(k["elems"])], names=["key", "elem"])
