"""Hash fidelity tests — everything downstream depends on these
(SURVEY.md §7.2 step 1)."""

import numpy as np
import pytest

from gostatix_spark import hashing as H

RNG = np.random.default_rng(1234)


@pytest.mark.parametrize("algo", ["murmur3", "metro"])
def test_scalar_vs_vectorized_all_lengths(algo):
    items = [RNG.integers(0, 256, size=n).astype(np.uint8).tobytes()
             for n in list(range(0, 70)) * 2]
    h1v, h2v = H.hash_bytes_batch(items, algo)
    for i, b in enumerate(items):
        s1, s2 = H._SCALAR[algo](b, H.DEFAULT_SEED[algo])
        assert int(h1v[i]) == s1 and int(h2v[i]) == s2, f"len={len(b)}"


def test_murmur3_public_vectors():
    # canonical public x64-128 digest: hex of the little-endian output bytes
    h1, h2 = H.murmur3_128(b"The quick brown fox jumps over the lazy dog", 0)
    digest = h1.to_bytes(8, "little") + h2.to_bytes(8, "little")
    assert digest.hex() == "6c1b07bc7bbc4be347939ac4a93c437a"
    assert H.murmur3_128(b"", 0) == (0, 0)


def test_metrohash128_official_vector():
    """The OFFICIAL MetroHash128 test vector from the public metrohash
    repository: hashing the 63-byte key with seed 0 must produce the
    published digest C77CE2BFA4ED9F9B0548B2AC5074A297 (hex of the
    little-endian output words). This binds the kernel to the published
    algorithm EXTERNALLY — perturbing any constant turns this red."""
    from metro_reference import TEST_KEY_63
    want = "c77ce2bfa4ed9f9b0548b2ac5074a297"
    # scalar kernel
    h1, h2 = H.metrohash128(TEST_KEY_63, 0)
    assert (h1.to_bytes(8, "little") + h2.to_bytes(8, "little")).hex() == want
    # vectorized kernel (1-row matrix)
    mat = np.frombuffer(TEST_KEY_63, dtype=np.uint8)[None, :]
    v1, v2 = H.metrohash128_vec(mat, 0)
    assert (int(v1[0]).to_bytes(8, "little")
            + int(v2[0]).to_bytes(8, "little")).hex() == want


def test_metro_independent_transcription_agrees():
    """Cross-attestation: tests/metro_reference.py is a SECOND,
    independent transcription of go-metro Hash128 (different author
    pass, pure-Python ints, no shared code with hashing.py). Agreement
    across seeds and every length class means a transcription error in
    either implementation fails here."""
    from metro_reference import metro_hash128
    items = [RNG.integers(0, 256, size=n).astype(np.uint8).tobytes()
             for n in list(range(0, 70)) + [100, 255, 1024]]
    for seed in (0, 1373, 2**63 + 17):
        for b in items:
            assert H.metrohash128(b, seed) == metro_hash128(b, seed), \
                (seed, len(b))


def test_golden_digests_stable():
    # regression goldens: committed file (never regenerated at test time,
    # so a wrong kernel on a fresh checkout cannot mint its own goldens);
    # each metro entry is additionally re-derived through the independent
    # transcription, tying the goldens to the external algorithm
    import json
    import pathlib
    from metro_reference import metro_hash128
    gold_path = pathlib.Path(__file__).parent / "hash_goldens.json"
    inputs = {
        "John": b"John",
        "Jane": b"Jane",
        "u32be_100": (100).to_bytes(4, "big"),
        "u32be_101": (101).to_bytes(4, "big"),
        "tok_array_1_2_3": b"".join(t.to_bytes(4, "big") for t in (1, 2, 3)),
        "empty": b"",
    }
    got = {
        f"{algo}:{name}": list(H._SCALAR[algo](b, H.DEFAULT_SEED[algo]))
        for algo in ("murmur3", "metro")
        for name, b in inputs.items()
    }
    want = json.loads(gold_path.read_text())
    assert got == want
    for name, b in inputs.items():
        assert list(metro_hash128(b, 1373)) == want[f"metro:{name}"]


def test_token_encoding_canonical():
    toks = np.array([0, 1, 100, 2**31 - 1, -1], dtype=np.int32)
    mat = H.tokens_to_bytes_matrix(toks)
    assert mat.shape == (5, 4)
    # int32 -1 → uint32 big-endian 0xFFFFFFFF
    assert mat[4].tolist() == [255, 255, 255, 255]
    assert mat[2].tolist() == [0, 0, 0, 100]


def test_hash_token_arrays_matches_concat():
    vals = np.array([7, 8, 9, 10, 11, 12, 13], dtype=np.int32)
    offs = np.array([0, 3, 3, 7])
    ha, hb = H.hash_token_arrays(vals, offs)
    enc = [b"".join(int(t).to_bytes(4, "big") for t in vals[offs[i]:offs[i + 1]])
           for i in range(3)]
    sa, sb = H.hash_bytes_batch(enc)
    assert np.array_equal(ha, sa) and np.array_equal(hb, sb)


def test_int64_and_string_paths():
    h1, _ = H.hash_int64s(np.array([42, -42], dtype=np.int64))
    s1, _ = H.hash_bytes_batch([(42).to_bytes(8, "big"),
                                (-42).to_bytes(8, "big", signed=True)])
    assert np.array_equal(h1, s1)
    # strings hash as their UTF-8 bytes, straight from the Arrow buffers
    import pyarrow as pa
    from gostatix_spark.state import binary_buffers
    for typ in (pa.string(), pa.large_binary()):
        h1, _ = H.hash_var_bytes(*binary_buffers(pa.array(["héllo", ""], typ)))
        s1, _ = H.hash_bytes_batch(["héllo".encode(), b""])
        assert np.array_equal(h1, s1)
