"""In-process numpy microbench of the hashing, kernel and state layers.

Fixed batch sizes, inputs drawn from the run's seed. Each figure is the
median over repeats of one call, divided by the batch size (ns per
element) or taken whole (µs per encode/decode). No Spark is involved,
so these numbers isolate the layers the Spark workloads stack up.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from gostatix_spark import hashing, params
from gostatix_spark.kernels import bloom, cms, cuckoo, hll, kll, tdigest, topk
from gostatix_spark.state import (BloomState, CMSState, HLLState, TopKState,
                                  sketch_from_bytes)

BATCH = 1 << 16          # elements per kernel call
STR_BATCH = 1 << 14      # strings per hash_var_bytes call
MIN_REPS, MIN_SECONDS = 5, 0.05


def _time(fn, prepare=None) -> float:
    """Median seconds of ``fn(prepare())`` over at least MIN_REPS calls
    and MIN_SECONDS of calls; ``prepare`` runs outside the timing."""
    times: list[float] = []
    spent = 0.0
    while len(times) < MIN_REPS or spent < MIN_SECONDS:
        arg = prepare() if prepare else None
        t0 = time.perf_counter()
        fn(arg)
        times.append(time.perf_counter() - t0)
        spent += times[-1]
    return statistics.median(times)


def run(seed: int) -> dict[str, float]:
    r = np.random.default_rng([seed, 9])
    out: dict[str, float] = {}

    def ns(name, fn, n, prepare=None):
        out[name] = _time(fn, prepare) / n * 1e9

    tokens = r.integers(1, 50_258, BATCH).astype(np.int64)
    lens = r.integers(4, 33, STR_BATCH)
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
    values = r.integers(97, 123, int(offsets[-1])).astype(np.uint8)
    ns("hashing.hash_tokens_ns",
       lambda _: hashing.hash_tokens(tokens, "metro"), BATCH)
    ns("hashing.hash_var_bytes_ns",
       lambda _: hashing.hash_var_bytes(values, offsets, "metro"), STR_BATCH)

    h1, h2 = hashing.hash_tokens(tokens, "metro")
    m_hll = 16384
    regs = hll.new_state(m_hll)
    d, w = params.cms_dims_from_error_bounds(0.001, 0.01)
    matrix = cms.new_state(d, w)
    n_bloom = BATCH
    m_bl = params.bloom_filter_size(n_bloom, 0.01)
    k_bl = params.bloom_num_hashes(m_bl, n_bloom)
    words = bloom.new_state(m_bl)
    size = params.next_power_of_two(int(BATCH / 4 / 0.8))
    fp_len = params.cuckoo_fingerprint_length(size, 0.01)
    floats = r.lognormal(7.0, 0.75, BATCH)

    def fresh_cuckoo():
        return cuckoo.CuckooFilter(size, 4, fp_len, 500)

    ns("kernels.hll_update_ns", lambda _: hll.update_batch(regs, h1), BATCH)
    ns("kernels.cms_update_ns", lambda _: cms.update_batch(matrix, h1, h2),
       BATCH)
    ns("kernels.bloom_insert_ns",
       lambda _: bloom.insert_batch(words, h1, h2, k_bl, m_bl), BATCH)
    ns("kernels.topk_intcounts_ns", lambda c: c.update(tokens), BATCH,
       topk.IntCounts)
    ns("kernels.tdigest_update_ns",
       lambda s: tdigest.update_batch(s[0], s[1], floats), BATCH,
       tdigest.new_state)
    ns("kernels.kll_update_ns", lambda s: s.update_batch(floats), BATCH,
       kll.KLL)
    # cuckoo filters hold at most 2·bucket_size copies of one element,
    # so the cuckoo kernels get distinct elements
    c1, _ = hashing.hash_int64s(r.choice(1 << 40, BATCH, replace=False),
                                "murmur3")
    ns("kernels.cuckoo_insert_ns", lambda f: f.bulk_insert_hashes(c1), BATCH,
       fresh_cuckoo)
    probe = r.integers(1, 1 << 40, BATCH).astype(np.int64)
    p1, p2 = hashing.hash_int64s(probe, "metro")
    filled = fresh_cuckoo()
    filled.bulk_insert_hashes(c1)
    ns("kernels.bloom_lookup_ns",
       lambda _: bloom.lookup_batch(words, p1, p2, k_bl, m_bl), BATCH)
    ns("kernels.cms_query_ns", lambda _: cms.query_batch(matrix, p1, p2),
       BATCH)
    ns("kernels.cuckoo_lookup_ns", lambda _: filled.lookup_hashes(p1), BATCH)

    sparse_regs = hll.new_state(m_hll)
    hll.update_batch(sparse_regs, h1[:256])
    counts = topk.IntCounts()
    counts.update(tokens)
    tk_mat, tk_total, tk_cand = topk.partial_from_int_counts(
        counts, "tokens", 100, 4, d, w)
    frames = {
        "hll_sparse": (HLLState(m_hll, sparse_regs, 256), {"sparse": True}),
        "hll_dense": (HLLState(m_hll, regs, BATCH), {}),
        "cms": (CMSState(d, w, matrix, BATCH), {}),
        "bloom": (BloomState(m_bl, k_bl, words, BATCH), {}),
        "topk": (TopKState(100, 0.0001, 0.01,
                           CMSState(d, w, tk_mat, tk_total), tk_cand), {}),
    }
    for kind, (st, kw) in frames.items():
        blob = st.to_bytes(**kw)
        out[f"state.{kind}_encode_us"] = _time(
            lambda _: st.to_bytes(**kw)) * 1e6
        out[f"state.{kind}_decode_us"] = _time(
            lambda _: sketch_from_bytes(blob)) * 1e6
        out[f"state.{kind}_bytes"] = len(blob)
    return out
