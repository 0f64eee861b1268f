"""Property-based tests (hypothesis): merge laws and hash fidelity on
randomized inputs — SURVEY.md §5.2 merge-law property tests."""

import numpy as np
from hypothesis import given, settings, strategies as st

from gostatix_spark import hashing as H
from gostatix_spark.kernels import bloom, cms, hll

byte_strings = st.binary(min_size=0, max_size=64)


@settings(max_examples=60, deadline=None)
@given(st.lists(byte_strings, min_size=1, max_size=30))
def test_hash_scalar_equals_vectorized(items):
    for algo in ("murmur3", "metro"):
        h1, h2 = H.hash_bytes_batch(items, algo)
        for i, b in enumerate(items):
            s1, s2 = H._SCALAR[algo](b, H.DEFAULT_SEED[algo])
            assert (int(h1[i]), int(h2[i])) == (s1, s2)


token_streams = st.lists(
    st.integers(min_value=-2**31, max_value=2**31 - 1),
    min_size=0, max_size=400)


def _split3(seed, toks):
    rng = np.random.default_rng(seed)
    if not len(toks):
        return [np.zeros(0, np.int32)] * 3
    labels = rng.integers(0, 3, len(toks))
    arr = np.array(toks, dtype=np.int32)
    return [arr[labels == i] for i in range(3)]


@settings(max_examples=40, deadline=None)
@given(token_streams, st.integers(0, 2**31))
def test_hll_fold_invariant(toks, seed):
    m = 256
    parts = _split3(seed, toks)
    whole = hll.new_state(m)
    if len(toks):
        h1, _ = H.hash_tokens(np.array(toks, np.int32), "metro")
        hll.update_batch(whole, h1)
    acc = hll.new_state(m)
    for p in parts:
        s = hll.new_state(m)
        if len(p):
            h1, _ = H.hash_tokens(p, "metro")
            hll.update_batch(s, h1)
        acc = hll.merge(acc, s)
    assert np.array_equal(acc, whole)
    # idempotence + commutativity on the parts
    s0 = hll.new_state(m)
    if len(parts[0]):
        h1, _ = H.hash_tokens(parts[0], "metro")
        hll.update_batch(s0, h1)
    assert np.array_equal(hll.merge(s0, s0), s0)


@settings(max_examples=40, deadline=None)
@given(token_streams, st.integers(0, 2**31))
def test_cms_and_bloom_fold_invariant(toks, seed):
    d, w, m, k = 3, 97, 512, 4
    parts = _split3(seed, toks)

    whole_cms = cms.new_state(d, w)
    whole_bloom = bloom.new_state(m)
    if len(toks):
        h1, h2 = H.hash_tokens(np.array(toks, np.int32), "metro")
        cms.update_batch(whole_cms, h1, h2)
        bloom.insert_batch(whole_bloom, h1, h2, k, m)

    acc_cms = cms.new_state(d, w)
    acc_bloom = bloom.new_state(m)
    for p in parts:
        pc, pb = cms.new_state(d, w), bloom.new_state(m)
        if len(p):
            h1, h2 = H.hash_tokens(p, "metro")
            cms.update_batch(pc, h1, h2)
            bloom.insert_batch(pb, h1, h2, k, m)
        acc_cms = cms.merge(acc_cms, pc)
        acc_bloom = bloom.merge(acc_bloom, pb)
    assert np.array_equal(acc_cms, whole_cms)
    assert np.array_equal(acc_bloom, whole_bloom)


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=1, max_size=1500))
def test_stdlib_codec_roundtrip_property(payload):
    """Any non-empty byte payload survives the wav, pgm and zraw
    encoders followed by ``multimodal._raw_decode`` byte-for-byte."""
    import zlib

    from gostatix_spark import multimodal as mm
    arr = np.frombuffer(payload, dtype=np.uint8)
    n = str(len(arr))
    encoded = [
        (mm._wav_bytes(arr), {"codec": "wav", "n_samples": n}),
        (mm._pgm_bytes(arr.reshape(1, -1)),
         {"codec": "pgm", "height": "1", "width": n}),
        (zlib.compress(payload), {"codec": "zraw", "n_samples": n}),
    ]
    for media, meta in encoded:
        assert mm._raw_decode(media, meta).tobytes() == payload, meta
