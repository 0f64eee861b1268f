"""Frame validation fuzz (hypothesis) over all seven sketch kinds.

A strict prefix of a valid frame, a frame with bytes appended, and one
kind's header spliced onto another kind's payload must raise
``state.SketchFormatError`` through both the kind's own reader and the
registry: never ``struct.error``, ``IndexError`` or a numpy error, and
never a silent decode. Flipped payload bits are out of scope: only a
checksum can catch those.

The sparse HLL frame records no pair count, so a cut at a whole number
of (index, value) pairs leaves a shorter frame. Every such cut of the
golden sparse frame leaves an impossible one (an index out of range or
a register value no HLL holds) and raises, except the cut right after
the header: that is the valid frame of an HLL with no register set,
and only a checksum could tell it apart. A random sparse frame can be
cut into a valid one, so sparse HLL is fuzzed from the golden frame
only. Splices use the golden frames too: two random states may share a
payload size. Two golden ones do (the cuckoo buckets and the dense HLL
registers, 64 bytes each); those splices are caught by the values a
state can hold (HLL ranks, the cuckoo item count)."""

import json
import pathlib

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from gostatix_spark import sketches, state
from gostatix_spark.kernels import kll, tdigest

GOLD_PATH = pathlib.Path(__file__).parent / "frame_goldens.json"
GOLDENS = {k: bytes.fromhex(v)
           for k, v in json.loads(GOLD_PATH.read_text()).items()}

READERS = {"hll": state.HLLState.from_bytes,
           "cms": state.CMSState.from_bytes,
           "bloom": state.BloomState.from_bytes,
           "topk": state.TopKState.from_bytes,
           "cuckoo": state.CuckooState.from_bytes,
           "tdigest": tdigest.from_bytes,
           "kll": kll.KLL.from_bytes}

u64s = st.integers(0, 2**64 - 1)
floats = st.floats(allow_nan=False, width=64)


@st.composite
def _cms(draw):
    d, w = draw(st.integers(1, 3)), draw(st.integers(1, 6))
    mat = np.array(draw(st.lists(u64s, min_size=d * w, max_size=d * w)),
                   np.uint64).reshape(d, w)
    return state.CMSState(d, w, mat, draw(u64s))


@st.composite
def _kll(draw):
    sk = kll.KLL(draw(st.integers(2, 300)), draw(st.integers(-5, 5)))
    sk.n = draw(st.integers(0, 2**40))
    sk.levels = [np.array(lv, np.float64)
                 for lv in draw(st.lists(st.lists(floats, max_size=5),
                                         min_size=1, max_size=4))]
    return sk.to_bytes()


def _tdigest(pairs, n, delta):
    m = np.array([p[0] for p in pairs], np.float64)
    w = np.array([p[1] for p in pairs], np.float64)
    return tdigest.to_bytes(m, w, n, delta)


def _cuckoo(size, bs, data):
    cells = np.array(data.draw(st.lists(
        st.integers(0, 100), min_size=size * bs, max_size=size * bs)),
        np.uint64).reshape(size, bs)  # 0, or 1 + a 2-digit fingerprint
    return state.CuckooState(size, bs, 2, 500, np.count_nonzero(cells),
                             cells).to_bytes()


frames = st.one_of(
    st.builds(lambda m, regs, n: state.HLLState(
        m, np.resize(np.array(regs, np.uint8), m), n).to_bytes(),
        st.sampled_from([16, 64]), st.lists(st.integers(0, 50), min_size=1),
        u64s),
    _cms().map(lambda c: c.to_bytes()),
    st.builds(lambda m, k, words, n: state.BloomState(
        m, k, np.resize(np.array(words, np.uint64), (m + 63) // 64),
        n).to_bytes(),
        st.integers(1, 300), st.integers(1, 9),
        st.lists(u64s, min_size=1), u64s),
    st.builds(lambda k, cms, cands, capped: state.TopKState(
        k, 0.001, 0.999, cms, cands, capped=capped).to_bytes(),
        st.integers(1, 20), _cms(),
        st.dictionaries(st.binary(max_size=12), u64s, max_size=5),
        st.booleans()),
    st.builds(_tdigest, st.lists(st.tuples(floats, floats), max_size=6),
              u64s, floats),
    _kll(),
    st.builds(_cuckoo, st.integers(1, 4), st.integers(1, 3), st.data()),
    st.sampled_from(sorted(GOLDENS.values())),
)


def _split(blob: bytes) -> tuple[bytes, bytes]:
    """A frame's leading bytes and header, and its payload."""
    _, body = state.read_frame(blob)
    return blob[:body.pos], blob[body.pos:]


# the golden sparse HLL frame's header alone: a valid frame (see above)
BARE_SPARSE = _split(GOLDENS["hll_sparse"])[0]


def _rejected(blob: bytes, kind: str) -> None:
    if blob == BARE_SPARSE:
        assert not READERS[kind](blob).registers.any()
        return
    for read in (READERS[kind], sketches.decode):
        with pytest.raises(state.SketchFormatError):
            read(blob)


def test_every_golden_prefix_raises():
    for blob in GOLDENS.values():
        for cut in range(len(blob)):
            _rejected(blob[:cut], state.kind_of(blob))


@settings(max_examples=300, deadline=None)
@given(frames, st.data())
def test_prefix_raises(blob, data):
    sketches.decode(blob)  # the frame itself is valid
    cut = data.draw(st.integers(0, len(blob) - 1))
    _rejected(blob[:cut], state.kind_of(blob))


@settings(max_examples=300, deadline=None)
@given(frames, st.binary(min_size=1, max_size=48))
def test_appended_bytes_raise(blob, suffix):
    _rejected(blob + suffix, state.kind_of(blob))


@settings(max_examples=200, deadline=None)
@given(st.sampled_from(sorted(GOLDENS)), st.sampled_from(sorted(GOLDENS)))
def test_header_spliced_onto_another_kinds_payload_raises(a, b):
    # an empty payload (the empty t-digest's) spliced onto the sparse
    # HLL header makes BARE_SPARSE
    head, _ = _split(GOLDENS[a])
    _, payload = _split(GOLDENS[b])
    kind = state.kind_of(GOLDENS[a])
    if kind != state.kind_of(GOLDENS[b]):
        _rejected(head + payload, kind)
