"""Sketch state containers + codecs.

Each sketch's state is a small numpy buffer plus parameters
(SURVEY.md §1.2). Two codecs per sketch:

* **binary** (`to_bytes`/`from_bytes`) — the Spark wire format: one
  versioned little-endian frame stored in ``BinaryType`` columns and in
  parquet checkpoints. Layout: magic ``GSK1``, kind byte, little-endian
  header struct, raw numpy payload. This is *our* format (the
  reference's big-endian ``WriteTo``/``ReadFrom`` streams,
  ``bloom_filter.go:279-320`` etc., are a wire format of its own
  backend, not semantics).

* **reference JSON** (`to_json`/`from_json`) — field-name compatible
  with the reference's ``Export()/Import()`` structs
  (``bloom_filter.go:246-249`` ``{m,k,b}``, ``base_hyperloglog.go:38-44``
  ``{nr,nbp,c,r,k}``, ``count_min_sketch.go:95-100`` ``{r,c,s,m,k}``,
  ``top_k.go:137-149`` ``{k,er,a,s,h,hk}``) for test-vector replay.
"""

from __future__ import annotations

import base64
import json
import struct
from dataclasses import dataclass, field
from typing import Callable, NamedTuple

import numpy as np

from gostatix_spark.params import hll_alpha

MAGIC = b"GSK1"
_KINDS = {1: "bloom", 2: "hll", 3: "cms", 4: "topk", 5: "cuckoo"}
KIND_IDS = {v: k for k, v in _KINDS.items()}


def _frame(kind: str, header: bytes, payload: bytes) -> bytes:
    return MAGIC + bytes([KIND_IDS[kind]]) + struct.pack("<I", len(header)) + header + payload


def frame_kind(buf: bytes) -> str:
    """The kind a ``GSK1`` frame names; ``ValueError`` for anything else."""
    if bytes(buf[:4]) != MAGIC or len(buf) < 9:
        raise ValueError(f"not a GSK1 sketch frame (starts {bytes(buf[:4])!r})")
    if buf[4] not in _KINDS:
        raise ValueError(f"unknown sketch kind byte {buf[4]} in GSK1 frame")
    return _KINDS[buf[4]]


def _unframe(buf: bytes, expected: str) -> tuple[bytes, bytes]:
    """(header, payload) of a frame of kind ``expected``."""
    found = frame_kind(buf)
    if found != expected:
        raise ValueError(f"expected a {expected} frame, found {found}")
    hlen = struct.unpack_from("<I", buf, 5)[0]
    return buf[9 : 9 + hlen], buf[9 + hlen :]


class ArrayFrame(NamedTuple):
    """Layout of a GSK1 kind whose payload is one fixed-width array.
    Its header is the version byte, the parameters and one count, each
    parameter and the count a little-endian u64."""

    n_params: int
    last_version: int  # 2 for HLL: sparse (u32 index, u8 value) pairs
    dtype: np.dtype  # payload element
    width: Callable  # (n, n_params) parameters → dense payload elements


ARRAY_FRAMES = {
    "hll": ArrayFrame(1, 2, np.dtype(np.uint8), lambda p: p[:, 0]),  # m
    "cms": ArrayFrame(2, 1, np.dtype("<u8"),
                      lambda p: p[:, 0] * p[:, 1]),  # d, w
    "bloom": ArrayFrame(2, 1, np.dtype("<u8"),
                        lambda p: (p[:, 0] + 63) // 64),  # m, k
}


class Frames(NamedTuple):
    """Header fields and payload byte ranges of validated frames."""

    rows: np.ndarray | None  # each frame's row for errors; None: a lone state
    version: np.ndarray  # uint8
    params: np.ndarray  # (n, n_params) int64: hll m; cms d, w; bloom m, k
    count: np.ndarray  # uint64: n_items, or all_sum for cms
    width: np.ndarray  # int64 dense payload elements
    lo: np.ndarray  # int64 payload start in the buffer
    hi: np.ndarray  # int64 payload end


def check_rows(ok: np.ndarray, rows: np.ndarray | None, what: str) -> None:
    """``ValueError`` naming the first row where ``ok`` is false (no row
    for a lone state: ``rows`` None)."""
    if not ok.all():
        bad = int(np.argmin(ok))
        raise ValueError(what if rows is None
                         else f"sketch state row {int(rows[bad])}: {what}")


def binary_buffers(arr) -> tuple[np.ndarray, np.ndarray]:
    """(flat uint8 values, int64 offsets) for a string/binary Arrow array."""
    import pyarrow as pa
    if not pa.types.is_binary(arr.type):
        arr = arr.cast(pa.binary())
    # null-free assumption: sketch inputs are filtered upstream
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    data_buf = arr.buffers()[2]
    values = (np.frombuffer(data_buf, dtype=np.uint8)
              if data_buf is not None else np.zeros(0, np.uint8))
    return values, offsets


# bytes one Arrow binary array can hold: its offsets are int32
_MAX_BINARY = (1 << 31) - 1


def binary_array(data: np.ndarray, offsets: np.ndarray):
    """The Arrow binary array over flat bytes and int64 offsets — the
    inverse of :func:`binary_buffers`. ``ValueError`` when the bytes
    exceed what int32 offsets address."""
    import pyarrow as pa
    if offsets[-1] > _MAX_BINARY:
        raise ValueError(f"{int(offsets[-1])} bytes of sketch states exceed "
                         f"one Arrow binary array ({_MAX_BINARY} bytes)")
    return pa.Array.from_buffers(
        pa.binary(), len(offsets) - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)])


def gather(data: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """``data[lo[0]:hi[0]] ++ data[lo[1]:hi[1]] ++ …`` for ascending,
    disjoint ranges, through one byte mask instead of a loop."""
    if not len(lo):
        return np.zeros(0, np.uint8)
    spans = np.empty(2 * len(lo), np.int64)  # the gap before each range
    spans[0::2] = lo - np.append(lo[0], hi[:-1])
    spans[1::2] = hi - lo
    keep = np.repeat(np.arange(len(spans)) % 2 == 1, spans)
    return data[lo[0]:hi[-1]][keep]


def _heads(data: np.ndarray, lo: np.ndarray, width: int) -> np.ndarray:
    """The first ``width`` bytes of each frame, one row per frame."""
    return data[lo[:, None] + np.arange(width)]


_MAGIC = np.frombuffer(MAGIC, np.uint8)


def kind_bytes(data: np.ndarray, lo: np.ndarray,
               hi: np.ndarray) -> np.ndarray:
    """The GSK1 kind byte of each frame ``data[lo[i]:hi[i]]``; 0 for a
    frame of another format (t-digest, KLL) or too short for a header."""
    out = np.zeros(len(lo), np.uint8)
    at = np.flatnonzero(hi - lo >= 9)
    head = _heads(data, lo[at], 5)
    gsk1 = (head[:, :4] == _MAGIC).all(1)
    out[at[gsk1]] = head[gsk1, 4]
    return out


# a frame's fixed part by its number of parameters: magic, kind byte,
# header length, then the header (version, parameters, count)
_HEADERS = {n: np.dtype([("magic", "S4"), ("kind", "u1"), ("hlen", "<u4"),
                         ("version", "u1"), ("params", "<u8", (n,)),
                         ("count", "<u8")]) for n in (1, 2)}
_PREFIX = {k: np.frombuffer(MAGIC + struct.pack(
    "<BI", KIND_IDS[k], _HEADERS[f.n_params].itemsize - 9), np.uint8)
    for k, f in ARRAY_FRAMES.items()}


def read_frames(data: np.ndarray, lo, hi, kind: str,
                rows: np.ndarray | None = None) -> Frames:
    """Parse the ``kind`` frames ``data[lo[i]:hi[i]]`` of a fixed-width
    array kind (``ARRAY_FRAMES``) straight from a flat buffer. Every
    frame is checked: magic, kind byte, header length, version, payload
    length (the dense size for v1, whole (u32 index, u8 value) pairs for
    sparse HLL v2). A failure raises ``ValueError`` naming ``rows[i]``."""
    layout = ARRAY_FRAMES[kind]
    dt = _HEADERS[layout.n_params]
    lo, hi = np.asarray(lo, np.int64), np.asarray(hi, np.int64)
    size = hi - lo
    if not (size >= dt.itemsize).all():
        check_rows(size >= 9, rows, "shorter than a GSK1 frame header")
        _check_kind(_heads(data, lo, 9), kind, rows)
        check_rows(size >= dt.itemsize, rows,
                   f"shorter than a {kind} header")
    head = _heads(data, lo, dt.itemsize)
    h = head.view(dt)[:, 0]
    params = h["params"].astype(np.int64)
    width = layout.width(params)
    version = h["version"]
    plen = size - dt.itemsize
    sized = (version == 1) & (plen == width * layout.dtype.itemsize)
    if layout.last_version == 2:  # or whole sparse (index, value) pairs
        sized |= (version == 2) & (plen % 5 == 0)
    framed = (head[:, :9] == _PREFIX[kind]).all(1)  # magic, kind, hlen
    if not (framed & sized).all():
        _check_kind(head, kind, rows)
        check_rows(framed, rows, f"bad {kind} header length")
        check_rows(sized, rows, f"bad {kind} frame version or payload length")
    return Frames(rows, version, params, h["count"], width,
                  lo + dt.itemsize, hi)


def _check_kind(head: np.ndarray, kind: str, rows) -> None:
    """Raise for the first frame whose leading bytes are not a ``kind``
    frame's, naming what it is instead."""
    ok = (head[:, :4] == _MAGIC).all(1) & (head[:, 4] == KIND_IDS[kind])
    if not ok.all():
        try:
            what = (f"expected a {kind} frame, found "
                    f"{frame_kind(head[np.argmin(ok)])}")
        except ValueError as e:
            what = str(e)
        check_rows(ok, rows, what)


def sparse_pairs(data: np.ndarray, fr: Frames):
    """(frame, index, value) of every pair in the sparse HLL frames of
    ``fr``, indices checked against their frame's m."""
    sp = np.flatnonzero(fr.version == 2)
    cnt = (fr.hi[sp] - fr.lo[sp]) // 5
    mid = fr.lo[sp] + 4 * cnt
    idx = gather(data, fr.lo[sp], mid).view("<u4")
    owner = np.repeat(sp, cnt)
    ok = idx < fr.width[owner]
    if not ok.all():
        check_rows(ok, None if fr.rows is None else fr.rows[owner],
                   "sparse hll index out of range")
    return owner, idx, gather(data, mid, fr.hi[sp])


def _read_one(buf: bytes, kind: str) -> tuple[np.ndarray, Frames]:
    """One serialized state as a buffer and its validated frame."""
    data = np.frombuffer(buf, np.uint8)
    return data, read_frames(data, [0], [len(data)], kind)


def write_frames(kind: str, params: np.ndarray, count: np.ndarray,
                 payload: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Dense (version 1) frames of one parameter set ``params`` as (flat
    bytes, int64 offsets): row i carries ``count[i]`` and ``payload[i]``
    — the bytes ``to_bytes`` writes, for many states at once."""
    hlen = 9 + 8 * ARRAY_FRAMES[kind].n_params
    head = np.frombuffer(MAGIC + bytes([KIND_IDS[kind]])
                         + struct.pack("<IB", hlen, 1)
                         + np.asarray(params, "<u8").tobytes(), np.uint8)
    body = payload.reshape(len(payload), -1).view(np.uint8)
    out = np.empty((len(payload), 9 + hlen + body.shape[1]), np.uint8)
    out[:, :len(head)] = head
    out[:, len(head):9 + hlen] = (
        np.asarray(count, "<u8").view(np.uint8).reshape(-1, 8))
    out[:, 9 + hlen:] = body
    return out.reshape(-1), np.arange(len(out) + 1) * out.shape[1]


def kind_of(buf: bytes) -> str:
    from gostatix_spark.sketches import lookup
    return lookup(buf).kind


def sketch_from_bytes(buf: bytes):
    """Decode any serialized state through the sketch registry."""
    from gostatix_spark.sketches import decode
    return decode(buf)


def bitset_marshal_json(words: np.ndarray, nbits: int) -> str:
    """The reference bitset's JSON string: quoted base64 of
    (8-byte big-endian bit length ++ 8-byte big-endian words) —
    bits-and-blooms ``MarshalJSON`` as used by ``bitset_mem.go:73-79``;
    golden vector ``bitset_mem_test.go:57-70``."""
    raw = struct.pack(">Q", nbits) + words.astype(">u8").tobytes()
    return '"' + base64.b64encode(raw).decode() + '"'


def bitset_unmarshal_json(s: str) -> tuple[int, np.ndarray]:
    raw = base64.b64decode(s.strip('"'))
    nbits = struct.unpack(">Q", raw[:8])[0]
    words = np.frombuffer(raw[8:], dtype=">u8").astype(np.uint64)
    return nbits, words


@dataclass
class BloomState:
    m: int
    k: int
    words: np.ndarray  # uint64[ceil(m/64)]
    n_items: int = 0

    def to_bytes(self) -> bytes:
        header = struct.pack("<BQQQ", 1, self.m, self.k, self.n_items)
        return _frame("bloom", header, self.words.tobytes())

    @classmethod
    def from_bytes(cls, buf: bytes) -> "BloomState":
        data, fr = _read_one(buf, "bloom")
        m, k = fr.params[0].tolist()
        return cls(m, k, data[fr.lo[0]:].view("<u8").astype(np.uint64),
                   int(fr.count[0]))

    def to_json(self) -> str:
        """Reference ``{m,k,b}`` with b = bitset MarshalJSON content
        (base64), per ``bloom_filter.go:246-272``."""
        b = bitset_marshal_json(self.words, self.m).strip('"')
        return json.dumps({"m": self.m, "k": self.k, "b": b})

    @classmethod
    def from_json(cls, s: str) -> "BloomState":
        o = json.loads(s)
        nbits, words = bitset_unmarshal_json(o["b"])
        need = (o["m"] + 63) // 64
        if len(words) < need:
            words = np.concatenate([words, np.zeros(need - len(words), np.uint64)])
        return cls(o["m"], o["k"], words[:need])

    def equals(self, other: "BloomState") -> bool:
        return (self.m == other.m and self.k == other.k
                and np.array_equal(self.words, other.words))

    def to_reference_binary(self) -> bytes:
        """The reference's ``WriteTo`` stream — ``bloom_filter.go:279-293``:
        uint64-BE size, uint64-BE numHashes, then the bits-and-blooms
        bitset stream (uint64-BE bit length + big-endian words)."""
        return (struct.pack(">QQQ", self.m, self.k, self.m)
                + self.words.astype(">u8").tobytes())

    @classmethod
    def from_reference_binary(cls, buf: bytes) -> "BloomState":
        m, k, nbits = struct.unpack_from(">QQQ", buf)
        words = np.frombuffer(buf, ">u8", (nbits + 63) // 64, 24).astype(np.uint64)
        return cls(m, k, words)


@dataclass
class HLLState:
    m: int
    registers: np.ndarray  # uint8[m]
    n_items: int = 0

    def to_bytes(self, sparse: bool = False) -> bytes:
        """Version 1 = dense register payload (the public wire format,
        unchanged). ``sparse=True`` opts in to version 2 — (idx u32,
        val u8) pairs of the NON-ZERO registers — chosen only when it
        is actually smaller. Used for in-flight phase-1 partials of
        fine-grained keyed builds (e.g. 3.4k hourly windows × 32
        partitions), where each partial has ~50 of 4096 registers set
        and the dense frames dominated the merge shuffle. Decoding is
        transparent: ``from_bytes`` dispatches on the version byte, so
        merge/checkpoint/resume paths accept either version; phase-2
        outputs stay dense."""
        if sparse:
            idx = np.nonzero(self.registers)[0]
            if 5 * len(idx) < self.m:
                header = struct.pack("<BQQ", 2, self.m, self.n_items)
                payload = (idx.astype("<u4").tobytes()
                           + self.registers[idx].tobytes())
                return _frame("hll", header, payload)
        header = struct.pack("<BQQ", 1, self.m, self.n_items)
        return _frame("hll", header, self.registers.tobytes())

    @classmethod
    def from_bytes(cls, buf: bytes) -> "HLLState":
        data, fr = _read_one(buf, "hll")
        m = int(fr.params[0, 0])
        if fr.version[0] == 2:
            _, idx, vals = sparse_pairs(data, fr)
            regs = np.zeros(m, dtype=np.uint8)
            regs[idx] = vals
        else:
            regs = data[fr.lo[0]:].copy()
        return cls(m, regs, int(fr.count[0]))

    def to_json(self) -> str:
        """Reference ``{nr,nbp,c,r,k}`` — ``base_hyperloglog.go:38-44``."""
        import math
        return json.dumps({"nr": self.m, "nbp": int(math.log2(self.m)),
                           "c": hll_alpha(self.m),
                           "r": self.registers.tolist(), "k": ""})

    @classmethod
    def from_json(cls, s: str) -> "HLLState":
        o = json.loads(s)
        return cls(o["nr"], np.array(o["r"], dtype=np.uint8))

    def equals(self, other: "HLLState") -> bool:
        """All m registers compared (the reference skips the last —
        off-by-one quirk ``hyperloglog.go:94``, SURVEY.md §1.6.2)."""
        return self.m == other.m and np.array_equal(self.registers, other.registers)

    def to_reference_binary(self) -> bytes:
        """``hyperloglog.go:124-142`` WriteTo: uint64-BE numRegisters,
        uint64-BE numBytesPerHash, float64-BE correctionBias, raw
        register bytes."""
        import math
        return (struct.pack(">QQd", self.m, int(math.log2(self.m)),
                            hll_alpha(self.m))
                + self.registers.tobytes())

    @classmethod
    def from_reference_binary(cls, buf: bytes) -> "HLLState":
        m, _, _ = struct.unpack_from(">QQd", buf)
        regs = np.frombuffer(buf, np.uint8, m, 24).copy()
        return cls(m, regs)


@dataclass
class CMSState:
    d: int
    w: int
    matrix: np.ndarray  # uint64[d, w]
    all_sum: int = 0

    def to_bytes(self) -> bytes:
        header = struct.pack("<BQQQ", 1, self.d, self.w, self.all_sum)
        return _frame("cms", header, self.matrix.tobytes())

    @classmethod
    def from_bytes(cls, buf: bytes) -> "CMSState":
        data, fr = _read_one(buf, "cms")
        d, w = fr.params[0].tolist()
        mat = data[fr.lo[0]:].view("<u8").astype(np.uint64).reshape(d, w)
        return cls(d, w, mat, int(fr.count[0]))

    def to_json(self) -> str:
        """Reference ``{r,c,s,m,k}`` — ``count_min_sketch.go:95-100``."""
        return json.dumps({"r": self.d, "c": self.w, "s": self.all_sum,
                           "m": self.matrix.tolist(), "k": ""})

    @classmethod
    def from_json(cls, s: str) -> "CMSState":
        o = json.loads(s)
        return cls(o["r"], o["c"], np.array(o["m"], dtype=np.uint64), o["s"])

    def equals(self, other: "CMSState") -> bool:
        return (self.d == other.d and self.w == other.w
                and np.array_equal(self.matrix, other.matrix))

    def to_reference_binary(self) -> bytes:
        """``count_min_sketch.go:156-180`` WriteTo: uint64-BE rows,
        columns, allSum, then the matrix row-major as uint64-BE."""
        return (struct.pack(">QQQ", self.d, self.w, self.all_sum)
                + self.matrix.astype(">u8").tobytes())

    @classmethod
    def from_reference_binary(cls, buf: bytes) -> "CMSState":
        d, w, s = struct.unpack_from(">QQQ", buf)
        mat = np.frombuffer(buf, ">u8", d * w, 24).astype(np.uint64).reshape(d, w)
        return cls(d, w, mat, s)


@dataclass
class TopKState:
    k: int
    error_rate: float
    accuracy: float
    cms: CMSState
    candidates: dict[bytes, int] = field(default_factory=dict)
    # True when any contributing partial compacted under a max_distinct
    # cap (kernels.topk.CappedCounts): candidate counts for flushed-
    # then-reappearing elements are then partial sums, so the
    # exact=True read path is invalid and readers must re-estimate
    # through the CMS (which holds every flushed count).
    capped: bool = False

    def to_bytes(self) -> bytes:
        cms_bytes = self.cms.to_bytes()
        cand_blob = bytearray()
        for e, c in self.candidates.items():
            cand_blob += struct.pack("<IQ", len(e), c) + e
        # version 2 appends the capped flag byte; uncapped states keep
        # writing version 1 so existing serialized states round-trip
        # bit-identically
        if self.capped:
            header = struct.pack("<BQddIIB", 2, self.k, self.error_rate,
                                 self.accuracy, len(cms_bytes),
                                 len(self.candidates), 1)
        else:
            header = struct.pack("<BQddII", 1, self.k, self.error_rate,
                                 self.accuracy, len(cms_bytes),
                                 len(self.candidates))
        return _frame("topk", header, cms_bytes + bytes(cand_blob))

    @classmethod
    def from_bytes(cls, buf: bytes) -> "TopKState":
        header, payload = _unframe(buf, "topk")
        version = header[0]
        if version >= 2:
            _, k, er, acc, cms_len, n_cand, capped_b = struct.unpack(
                "<BQddIIB", header)
        else:
            _, k, er, acc, cms_len, n_cand = struct.unpack("<BQddII", header)
            capped_b = 0
        cms_state = CMSState.from_bytes(payload[:cms_len])
        cands: dict[bytes, int] = {}
        off = cms_len
        for i in range(n_cand):
            fits = off + 12 <= len(payload)
            if fits:
                elen, c = struct.unpack_from("<IQ", payload, off)
                off += 12
                fits = off + elen <= len(payload)
            if not fits:
                raise ValueError(f"Top-K candidate {i} of {n_cand} runs "
                                 f"past the {len(payload)}-byte payload")
            cands[payload[off : off + elen]] = c
            off += elen
        if off != len(payload):
            raise ValueError(f"{len(payload) - off} bytes left over after "
                             f"{n_cand} Top-K candidates")
        return cls(k, er, acc, cms_state, cands, capped=bool(capped_b))

    def to_json(self) -> str:
        """Reference ``{k,er,a,s,h,hk}`` — ``top_k.go:144-149``; heap
        entries ``{v,f}`` (``top_k.go:137-139``). Our candidate map
        plays the heap's role (distributed extension, SURVEY.md T5).
        Capped builds add a ``capped`` key (absent = false, so uncapped
        JSON stays reference-shaped)."""
        heap = [{"v": e.decode("utf-8", "surrogateescape"), "f": c}
                for e, c in sorted(self.candidates.items())]
        o = {"k": self.k, "er": self.error_rate, "a": self.accuracy,
             "s": json.loads(self.cms.to_json()), "h": heap, "hk": ""}
        if self.capped:
            o["capped"] = True
        return json.dumps(o)

    @classmethod
    def from_json(cls, s: str) -> "TopKState":
        o = json.loads(s)
        cms_state = CMSState.from_json(json.dumps(o["s"]))
        cands = {e["v"].encode("utf-8", "surrogateescape"): e["f"] for e in o["h"]}
        return cls(o["k"], o["er"], o["a"], cms_state, cands,
                   capped=bool(o.get("capped", False)))

    def equals(self, other: "TopKState") -> bool:
        return (self.k == other.k and self.cms.equals(other.cms)
                and self.candidates == other.candidates
                and self.capped == other.capped)

    def to_reference_binary(self) -> bytes:
        """``top_k.go:216-251`` WriteTo: uint64-BE k, float64-BE
        errorRate, float64-BE accuracy, CMS stream, then exactly k heap
        entries (uint64-BE strlen, bytes, uint64-BE frequency). Our top
        k candidates (count desc, element asc) fill the heap slots."""
        from gostatix_spark.kernels import topk as topk_kernel
        out = [struct.pack(">Qdd", self.k, self.error_rate, self.accuracy),
               self.cms.to_reference_binary()]
        # capped builds must re-estimate through the CMS — the exact
        # candidate sums undercount flushed-then-reappearing elements
        top = topk_kernel.final_values(self.cms.matrix, self.candidates,
                                       self.k, exact=not self.capped)
        for e, c in top:
            out.append(struct.pack(">Q", len(e)) + e + struct.pack(">Q", c))
        # reference writes exactly k entries; pad with empties if fewer
        for _ in range(self.k - len(top)):
            out.append(struct.pack(">Q", 0) + struct.pack(">Q", 0))
        return b"".join(out)

    @classmethod
    def from_reference_binary(cls, buf: bytes) -> "TopKState":
        k, er, acc = struct.unpack_from(">Qdd", buf)
        off = struct.calcsize(">Qdd")
        d, w, _ = struct.unpack_from(">QQQ", buf, off)
        cms_len = 24 + d * w * 8
        cms_state = CMSState.from_reference_binary(buf[off:off + cms_len])
        off += cms_len
        cands: dict[bytes, int] = {}
        for _ in range(k):
            (ln,) = struct.unpack_from(">Q", buf, off)
            off += 8
            e = buf[off:off + ln]
            off += ln
            (c,) = struct.unpack_from(">Q", buf, off)
            off += 8
            if ln:
                cands[e] = c
        return cls(k, er, acc, cms_state, cands)


@dataclass
class CuckooState:
    size: int
    bucket_size: int
    fp_len: int
    retries: int
    length: int
    buckets: np.ndarray  # uint64[size, bucket_size]

    def to_bytes(self) -> bytes:
        header = struct.pack("<BQQQQQ", 1, self.size, self.bucket_size,
                             self.fp_len, self.retries, self.length)
        return _frame("cuckoo", header, self.buckets.tobytes())

    @classmethod
    def from_bytes(cls, buf: bytes) -> "CuckooState":
        header, payload = _unframe(buf, "cuckoo")
        _, size, bs, fpl, r, ln = struct.unpack("<BQQQQQ", header)
        return cls(size, bs, fpl, r, ln,
                   np.frombuffer(payload, dtype=np.uint64).reshape(size, bs).copy())

    def to_json(self) -> str:
        """Reference ``{s,bs,fpl,l,r,b}`` — ``cuckoo_filter.go:169-174``;
        buckets as ``{s,l,e}`` with fingerprint strings (empty slots
        omitted, matching the reference's element lists)."""
        bucket_objs = []
        for row in self.buckets:
            elems = [str(int(v) - 1).rjust(self.fp_len, "0") for v in row if v != 0]
            bucket_objs.append({"s": self.bucket_size, "l": len(elems), "e": elems})
        return json.dumps({"s": self.size, "bs": self.bucket_size,
                           "fpl": self.fp_len, "l": self.length,
                           "r": self.retries, "b": bucket_objs})

    @classmethod
    def from_json(cls, s: str) -> "CuckooState":
        o = json.loads(s)
        buckets = np.zeros((o["s"], o["bs"]), dtype=np.uint64)
        for i, b in enumerate(o["b"]):
            for j, e in enumerate(b["e"]):
                buckets[i, j] = int(e) + 1
        return cls(o["s"], o["bs"], o["fpl"], o["r"], o["l"], buckets)

    def equals(self, other: "CuckooState") -> bool:
        return (self.buckets.shape == other.buckets.shape
                and bool((np.sort(self.buckets, axis=1)
                          == np.sort(other.buckets, axis=1)).all()))

    def _fp_str(self, v: int) -> bytes:
        return str(int(v) - 1).rjust(self.fp_len, "0").encode("ascii")

    def to_reference_binary(self) -> bytes:
        """``cuckoo_filter.go:223-253`` WriteTo: five uint64-BE params
        (size, bucketSize, fpLen, length, retries), then per bucket
        (``bucket_mem.go:116-139``): uint64-BE size, uint64-BE length,
        then each occupied slot as uint64-BE strlen + fingerprint
        chars."""
        out = [struct.pack(">QQQQQ", self.size, self.bucket_size,
                           self.fp_len, self.length, self.retries)]
        for row in self.buckets:
            elems = [self._fp_str(v) for v in row if v != 0]
            out.append(struct.pack(">QQ", self.bucket_size, len(elems)))
            for e in elems:
                out.append(struct.pack(">Q", len(e)) + e)
        return b"".join(out)

    @classmethod
    def from_reference_binary(cls, buf: bytes) -> "CuckooState":
        size, bs, fpl, ln, r = struct.unpack_from(">QQQQQ", buf)
        off = 40
        buckets = np.zeros((size, bs), dtype=np.uint64)
        for i in range(size):
            _, blen = struct.unpack_from(">QQ", buf, off)
            off += 16
            for j in range(blen):
                (sl,) = struct.unpack_from(">Q", buf, off)
                off += 8
                buckets[i, j] = int(buf[off:off + sl]) + 1
                off += sl
        return cls(size, bs, fpl, r, ln, buckets)
