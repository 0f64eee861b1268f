"""Golden state frames: the serialized bytes of one fixed state of every
sketch kind, pinned by a committed file (``frame_goldens.json``).

The goldens are never regenerated at test time, so a codec change that
alters a single byte of any frame fails here instead of silently
invalidating checkpoints and streaming state written earlier."""

import json
import pathlib

import numpy as np

from gostatix_spark import sketches, state
from gostatix_spark.kernels import kll, tdigest

GOLD_PATH = pathlib.Path(__file__).parent / "frame_goldens.json"


def _cms(d=2, w=4):
    mat = np.arange(d * w, dtype=np.uint64).reshape(d, w) * 3
    return state.CMSState(d, w, mat, int(mat[0].sum()))


def _kll():
    sk = kll.KLL(k=8, seed=7)
    sk.n = 29
    sk.levels = [np.array([0.5, -2.0, 9.25]), np.zeros(0),
                 np.array([1.0, 3.0, 4.5, 8.0])]
    return sk


def golden_frames() -> dict[str, bytes]:
    """Each fixed state's frame, as ``to_bytes`` writes it."""
    sparse = np.zeros(256, np.uint8)
    sparse[[3, 70, 200]] = [1, 5, 2]
    cuckoo = np.array([[3, 0], [17, 101], [0, 0], [42, 0]], np.uint64)
    cands = {b"apple": 6, b"fig": 3, b"": 1}
    return {
        "hll_dense": state.HLLState(
            64, (np.arange(64) % 7).astype(np.uint8), 100).to_bytes(),
        "hll_sparse": state.HLLState(256, sparse, 3).to_bytes(sparse=True),
        "cms": _cms(3, 5).to_bytes(),
        "bloom": state.BloomState(
            100, 3, np.array([0x0123456789ABCDEF, 0xF00D], np.uint64),
            7).to_bytes(),
        "topk_empty": state.TopKState(3, 0.001, 0.999, _cms()).to_bytes(),
        "topk": state.TopKState(3, 0.001, 0.999, _cms(), cands).to_bytes(),
        "topk_capped": state.TopKState(3, 0.001, 0.999, _cms(), cands,
                                       capped=True).to_bytes(),
        "kll": _kll().to_bytes(),
        "tdigest_empty": tdigest.to_bytes(*tdigest.new_state(), 0, 200.0),
        "tdigest": tdigest.to_bytes(np.array([1.0, 2.5, 7.0]),
                                    np.array([1.0, 2.0, 1.0]), 4, 100.0),
        "cuckoo": state.CuckooState(4, 2, 2, 500, 4, cuckoo).to_bytes(),
    }


def test_golden_frames_stable():
    want = {k: bytes.fromhex(v)
            for k, v in json.loads(GOLD_PATH.read_text()).items()}
    got = golden_frames()
    assert sorted(got) == sorted(want)
    for name, blob in got.items():
        assert blob == want[name], name


def test_golden_frames_decode_and_reencode():
    """Every golden frame decodes through the registry and re-encodes to
    the same bytes (the sparse HLL frame re-encodes through its own
    ``sparse=True`` path)."""
    for name, hexed in json.loads(GOLD_PATH.read_text()).items():
        blob = bytes.fromhex(hexed)
        sk = sketches.lookup(blob)
        assert name.startswith(sk.kind), name
        st = sk.decode(blob)
        again = (st.to_bytes(sparse=True) if name == "hll_sparse"
                 else sk.encode(st))
        assert again == blob, name
