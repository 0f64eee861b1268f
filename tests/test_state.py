"""Codec round-trips + reference golden vectors (SURVEY.md §5.1.3)."""

import numpy as np

from gostatix_spark import hashing as H
from gostatix_spark import state
from gostatix_spark.kernels import bloom, cms, hll


def test_bitset_golden_json():
    # bitset_mem_test.go:57-70: bits {1,5,8} (auto-grown to 9 bits) →
    # "AAAAAAAAAAkAAAAAAAABIg=="
    words = np.zeros(1, dtype=np.uint64)
    for b in (1, 5, 8):
        words[0] |= np.uint64(1) << np.uint64(b)
    assert state.bitset_marshal_json(words, 9) == '"AAAAAAAAAAkAAAAAAAABIg=="'
    # import golden: bitset_mem_test.go:72-88
    nbits, w2 = state.bitset_unmarshal_json('"AAAAAAAAAAYAAAAAAAABIg=="')
    assert nbits == 6
    for b, want in [(0, False), (1, True), (5, True), (7, False)]:
        assert bool((w2[0] >> np.uint64(b)) & np.uint64(1)) == want


def _roundtrip(s):
    return type(s).from_bytes(s.to_bytes())


def test_bloom_roundtrip_preserves_queries():
    m, k = 2048, 5
    words = bloom.new_state(m)
    h1, h2 = H.hash_tokens(np.arange(100, dtype=np.int32), "metro")
    bloom.insert_batch(words, h1, h2, k, m)
    s = state.BloomState(m, k, words, 100)
    for s2 in (_roundtrip(s), state.BloomState.from_json(s.to_json())):
        assert s.equals(s2)
        assert bloom.lookup_batch(s2.words, h1, h2, k, m).all()
    assert state.kind_of(s.to_bytes()) == "bloom"
    assert state.sketch_from_bytes(s.to_bytes()).equals(s)


def test_hll_roundtrip():
    reg = hll.new_state(256)
    h1, _ = H.hash_tokens(np.arange(5000, dtype=np.int32), "metro")
    hll.update_batch(reg, h1)
    s = state.HLLState(256, reg, 5000)
    assert s.equals(_roundtrip(s))
    assert s.equals(state.HLLState.from_json(s.to_json()))
    assert hll.count(_roundtrip(s).registers) == hll.count(reg)


def test_hll_sparse_partial_roundtrip():
    """state.py v2 sparse frames: chosen only when smaller, decoded
    transparently, merge-law compatible with dense frames."""
    from gostatix_spark.agg import merge_sketch_states

    m = 4096
    # sparsely-filled partial (the fine-grained keyed-build shape)
    reg = hll.new_state(m)
    h1, _ = H.hash_tokens(np.arange(50, dtype=np.int32), "metro")
    hll.update_batch(reg, h1)
    s = state.HLLState(m, reg, 50)
    sb = s.to_bytes(sparse=True)
    assert len(sb) < len(s.to_bytes())          # actually smaller
    assert s.equals(state.HLLState.from_bytes(sb))
    assert state.HLLState.from_bytes(sb).n_items == 50
    # dense column: sparse=True must FALL BACK to the v1 dense frame
    full = state.HLLState(m, np.ones(m, dtype=np.uint8), m)
    assert full.to_bytes(sparse=True) == full.to_bytes()
    # mixed-version merge equals all-dense merge
    reg2 = hll.new_state(m)
    h2, _ = H.hash_tokens(np.arange(25, 90, dtype=np.int32), "metro")
    hll.update_batch(reg2, h2)
    s2 = state.HLLState(m, reg2, 65)
    mixed = merge_sketch_states([s.to_bytes(sparse=True), s2.to_bytes()])
    dense = merge_sketch_states([s.to_bytes(), s2.to_bytes()])
    assert mixed == dense


def test_cms_roundtrip():
    mat = cms.new_state(3, 271)
    h1, h2 = H.hash_tokens(np.arange(1000, dtype=np.int32), "metro")
    total = cms.update_batch(mat, h1, h2)
    s = state.CMSState(3, 271, mat, total)
    for s2 in (_roundtrip(s), state.CMSState.from_json(s.to_json())):
        assert s.equals(s2)
        assert s2.all_sum == total
        assert np.array_equal(cms.query_batch(s2.matrix, h1, h2),
                              cms.query_batch(mat, h1, h2))


def test_topk_roundtrip():
    mat = cms.new_state(2, 100)
    s = state.TopKState(5, 0.001, 0.999, state.CMSState(2, 100, mat, 7),
                        {b"apple": 6, b"fig": 3})
    for s2 in (_roundtrip(s), state.TopKState.from_json(s.to_json())):
        assert s.equals(s2)
        assert not s2.capped


def test_topk_truncated_or_padded_frame_raises():
    """A Top-K frame cut inside its last candidate's bytes (1 byte) or
    inside its (length, count) header (9 bytes), or one with a byte
    appended, fails with ValueError instead of decoding a shortened
    candidate or raising struct.error."""
    import pytest

    mat = cms.new_state(2, 100)
    blob = state.TopKState(5, 0.001, 0.999, state.CMSState(2, 100, mat, 7),
                           {b"apple": 6, b"fig": 3}).to_bytes()
    for bad in (blob[:-1], blob[:-9]):
        with pytest.raises(ValueError, match="runs past"):
            state.TopKState.from_bytes(bad)
    with pytest.raises(ValueError, match="1 bytes left over"):
        state.TopKState.from_bytes(blob + b"\x00")


def test_topk_capped_flag_roundtrip():
    """The capped marker (max_distinct compaction happened) must
    survive both codecs; an uncapped state keeps the version-1 frame
    byte-identically (backwards compat)."""
    mat = cms.new_state(2, 100)
    plain = state.TopKState(5, 0.001, 0.999,
                            state.CMSState(2, 100, mat, 7), {b"a": 2})
    capped = state.TopKState(5, 0.001, 0.999,
                             state.CMSState(2, 100, mat, 7), {b"a": 2},
                             capped=True)
    assert state.TopKState.from_bytes(capped.to_bytes()).capped
    assert state.TopKState.from_json(capped.to_json()).capped
    assert not state.TopKState.from_bytes(plain.to_bytes()).capped
    assert not plain.equals(capped)
    # uncapped frame is the legacy version-1 layout
    assert plain.to_bytes() != capped.to_bytes()


def test_reference_binary_roundtrips():
    """WriteTo/ReadFrom stream format parity (big-endian headers +
    payload exactly as bloom_filter.go:279-320, hyperloglog.go:124-172,
    count_min_sketch.go:156-218)."""
    words = bloom.new_state(128)
    h1, h2 = H.hash_tokens(np.arange(20, dtype=np.int32), "metro")
    bloom.insert_batch(words, h1, h2, 4, 128)
    b = state.BloomState(128, 4, words)
    rb = b.to_reference_binary()
    # header fields are BE uint64s in reference order
    import struct
    assert struct.unpack_from(">QQQ", rb) == (128, 4, 128)
    assert state.BloomState.from_reference_binary(rb).equals(b)

    reg = hll.new_state(64)
    hll.update_batch(reg, h1)
    hs = state.HLLState(64, reg)
    rh = hs.to_reference_binary()
    assert struct.unpack_from(">QQ", rh)[:2] == (64, 6)
    assert state.HLLState.from_reference_binary(rh).equals(hs)

    mat = cms.new_state(2, 50)
    total = cms.update_batch(mat, h1, h2)
    cs = state.CMSState(2, 50, mat, total)
    rc = cs.to_reference_binary()
    assert struct.unpack_from(">QQQ", rc) == (2, 50, total)
    back = state.CMSState.from_reference_binary(rc)
    assert back.equals(cs) and back.all_sum == total


def test_topk_cuckoo_reference_binary():
    from gostatix_spark.kernels.cuckoo import CuckooFilter

    mat = cms.new_state(2, 100)
    s = state.TopKState(3, 0.001, 0.999, state.CMSState(2, 100, mat, 10),
                        {b"apple": 6, b"fig": 3, b"kiwi": 1})
    back = state.TopKState.from_reference_binary(s.to_reference_binary())
    assert back.k == 3 and back.cms.equals(s.cms)
    assert back.candidates == s.candidates

    f = CuckooFilter(size=8, bucket_size=2, fp_len=2, seed=5)
    for w in (b"foo", b"bar", b"baz"):
        f.insert(w)
    cs = state.CuckooState(8, 2, 2, 500, f.length, f.buckets)
    back = state.CuckooState.from_reference_binary(cs.to_reference_binary())
    assert back.equals(cs) and back.length == 3 and back.fp_len == 2


def test_cuckoo_roundtrip():
    from gostatix_spark.kernels.cuckoo import CuckooFilter
    f = CuckooFilter(size=16, bucket_size=2, fp_len=2, seed=5)
    for w in (b"foo", b"bar", b"baz"):
        f.insert(w)
    s = state.CuckooState(16, 2, 2, 500, f.length, f.buckets)
    for s2 in (_roundtrip(s), state.CuckooState.from_json(s.to_json())):
        assert s.equals(s2)
        assert s2.length == 3
        f2 = CuckooFilter(16, 2, 2, buckets=s2.buckets, length=s2.length)
        assert f2.lookup(b"foo") and f2.lookup(b"bar") and f2.lookup(b"baz")


def test_frame_kind_validation():
    """Decoding validates the frame's kind: an unknown kind byte or a
    frame of another kind raises ValueError naming what was found,
    also under ``python -O`` (no asserts involved)."""
    import os
    import subprocess
    import sys

    import pytest

    cms_blob = state.CMSState(2, 8, cms.new_state(2, 8), 0).to_bytes()
    with pytest.raises(ValueError, match="expected a hll frame, found cms"):
        state.HLLState.from_bytes(cms_blob)
    unknown = cms_blob[:4] + bytes([9]) + cms_blob[5:]
    for decode in (state.sketch_from_bytes, state.kind_of,
                   state.CMSState.from_bytes):
        with pytest.raises(ValueError, match="unknown sketch kind byte 9"):
            decode(unknown)
    with pytest.raises(ValueError, match="not a GSK1 sketch frame"):
        state.sketch_from_bytes(b"XXXX" + cms_blob[4:])
    code = ("from gostatix_spark import state; from gostatix_spark.kernels"
            " import cms\nb = state.CMSState(2, 8, cms.new_state(2, 8),"
            " 0).to_bytes()\ntry:\n    state.HLLState.from_bytes(b)\n"
            "except ValueError as e:\n    print(e)")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-O", "-c", code], check=True,
                         capture_output=True, text=True, cwd=repo).stdout
    assert out.strip() == "expected a hll frame, found cms"
