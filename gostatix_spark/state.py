"""Sketch state containers and their frames.

Each sketch's state is a small numpy buffer plus parameters
(SURVEY.md §1.2), with two codecs:

* **binary** (``to_bytes``/``from_bytes``) — the Spark wire format,
  stored in ``BinaryType`` columns and in parquet checkpoints. One
  table, :data:`FRAMES`, describes the frame of all seven kinds:

  - its leading bytes: ``GSK1`` and a kind byte, then the u32 length of
    the header (HLL, CMS, Bloom, Top-K, cuckoo), or a magic of the
    kind's own (``GSKQ`` t-digest, ``GSKL`` KLL);
  - its little-endian header struct per version, whose first field is
    the version byte;
  - the payload: for a kind whose payload is one array, its dtype and
    its length from the header; the others read theirs in sections
    sized from the header (Top-K, KLL) or from the payload length
    (sparse HLL).

  :func:`frame` writes a frame's leading bytes and header. One reader,
  :func:`read_frame`, finds the kind, checks the header and hands back
  a bounded :class:`Payload` cursor that rejects reads past the end and
  bytes left over. Every ``from_bytes`` reads through it, and every
  fault raises :class:`SketchFormatError`, as does a value no state
  holds (an HLL rank past 65 − log₂ m, a cuckoo item count that is not
  its number of set slots). :func:`read_frames` is the
  vectorized form of the same table for HLL, CMS and Bloom: it checks
  the frames of a whole Arrow batch at once (its errors name the row,
  as plain ``ValueError``), and :func:`lead_kinds` finds their kinds.
  This is *our* format: the reference's big-endian ``WriteTo``/
  ``ReadFrom`` streams (``bloom_filter.go:279-320`` etc.) are a wire
  format of its own backend, not semantics.

* **reference JSON** (`to_json`/`from_json`) — field-name compatible
  with the reference's ``Export()/Import()`` structs
  (``bloom_filter.go:246-249`` ``{m,k,b}``, ``base_hyperloglog.go:38-44``
  ``{nr,nbp,c,r,k}``, ``count_min_sketch.go:95-100`` ``{r,c,s,m,k}``,
  ``top_k.go:137-149`` ``{k,er,a,s,h,hk}``) for test-vector replay.
"""

from __future__ import annotations

import base64
import json
import math
import struct
from collections import namedtuple
from dataclasses import dataclass, field
from functools import cache
from typing import Callable, NamedTuple

import numpy as np

from gostatix_spark.kernels import cuckoo, topk
from gostatix_spark.params import hll_alpha

MAGIC = b"GSK1"


class SketchFormatError(ValueError):
    """A serialized sketch state that is not a well-formed frame."""


class Layout(NamedTuple):
    """One kind's frame: ``lead``, then the u32 header length (GSK1
    kinds only), the header, and the payload."""

    lead: bytes  # GSK1 and the kind byte, or the kind's own magic
    header: type  # the header fields as a namedtuple, version first
    structs: dict  # version byte → header struct
    # how many header fields after the version a build's parameters
    # fix; the fields after them describe the state's input
    params: int
    dtype: np.dtype | None = None  # a one-array payload: its elements,
    width: Callable | None = None  # and their number, from the header

    @property
    def version_at(self) -> int:
        """The offset of the version byte: past the leading bytes and,
        in a GSK1 frame, the u32 header length."""
        return len(self.lead) + 4 * self.lead.startswith(MAGIC)


def _layout(lead: bytes, fields: str, *formats: str, params: int,
            dtype=None, width=None) -> Layout:
    """Versions 1, 2, … with the header fields ``formats`` after the
    version byte, the first ``params`` of them build parameters; a
    field that a version lacks reads 0."""
    names = ["version", *fields.split()]
    header = namedtuple("Header", names,
                        defaults=[0] * (len(names) - 1 - len(formats[0])))
    return Layout(lead, header, {v: struct.Struct("<B" + f)
                                 for v, f in enumerate(formats, 1)},
                  params, dtype and np.dtype(dtype), width)


FRAMES = {
    "bloom": _layout(MAGIC + b"\x01", "m k n_items", "QQQ", params=2,
                     dtype="<u8", width=lambda h: (h.m + 63) // 64),
    # version 2 (sparse): u32 indices, then u8 values, of the non-zero
    # registers, in ascending index order
    "hll": _layout(MAGIC + b"\x02", "m n_items", "QQ", "QQ", params=1,
                   dtype="u1", width=lambda h: h.m),
    "cms": _layout(MAGIC + b"\x03", "d w all_sum", "QQQ", params=2,
                   dtype="<u8", width=lambda h: h.d * h.w),
    # a CMS frame of cms_len bytes, then n_cand × (_CANDIDATE, element)
    "topk": _layout(MAGIC + b"\x04",
                    "k error_rate accuracy cms_len n_cand capped",
                    "QddII", "QddIIB", params=3),
    "cuckoo": _layout(MAGIC + b"\x05",
                      "size bucket_size fp_len retries length", "QQQQQ",
                      params=4, dtype="<u8",
                      width=lambda h: h.size * h.bucket_size),
    # n means, then n weights
    "tdigest": _layout(b"GSKQ", "delta n_items n", "dQI", params=1,
                       dtype="<f8", width=lambda h: 2 * h.n),
    # n_levels × (u32 length, that many f64 items)
    "kll": _layout(b"GSKL", "k n seed n_levels", "IQqI", params=1),
}
_CANDIDATE = struct.Struct("<IQ")  # a Top-K element's length and count
_BE_U64 = struct.Struct(">Q")  # the reference streams' length and count
_BY_LEAD = {f.lead: k for k, f in FRAMES.items()}


def frame(kind: str, version: int, *fields) -> bytes:
    """The leading bytes and header of a ``kind`` frame; its payload
    follows."""
    lay = FRAMES[kind]
    head = lay.structs[version].pack(version, *fields)
    if lay.lead.startswith(MAGIC):
        return lay.lead + struct.pack("<I", len(head)) + head
    return lay.lead + head


def kind_of(buf) -> str:
    """The kind a frame names by its leading bytes;
    ``SketchFormatError`` when they name none."""
    lead = bytes(buf[:5])
    kind = _BY_LEAD.get(lead[:4]) or _BY_LEAD.get(lead)
    if kind is None:
        raise SketchFormatError(
            f"not a GSK1 sketch frame (starts {lead!r})"
            if lead[:4] != MAGIC or len(lead) < 5
            else f"unknown sketch kind byte {lead[4]} in GSK1 frame")
    return kind


class Payload:
    """A frame's payload, read front to back: a read past the frame's
    end, or bytes left unread at :meth:`end`, raise
    :class:`SketchFormatError`."""

    def __init__(self, buf, pos: int, kind: str):
        self.buf, self.pos, self.kind = memoryview(buf), pos, kind

    def take(self, n: int, what: str = "payload") -> memoryview:
        if self.pos + n > len(self.buf):
            raise SketchFormatError(f"{self.kind} {what} runs past the end "
                                    f"of the {len(self.buf)}-byte frame")
        self.pos += n
        return self.buf[self.pos - n:self.pos]

    def unpack(self, st: struct.Struct, what: str = "payload") -> tuple:
        return st.unpack(self.take(st.size, what))

    def array(self, dtype, n: int, what: str = "payload") -> np.ndarray:
        """The next ``n`` elements of ``dtype``, copied in native order."""
        dt = np.dtype(dtype)
        return np.frombuffer(self.take(n * dt.itemsize, what),
                             dt).astype(dt.newbyteorder("="))

    def end(self, what: str = "payload") -> None:
        if self.pos < len(self.buf):
            raise SketchFormatError(f"{len(self.buf) - self.pos} bytes left"
                                    f" over after the {self.kind} {what}")

    def dense(self, h) -> np.ndarray:
        """The one-array payload :data:`FRAMES` gives the kind, sized
        from its header ``h``; it must end the frame."""
        lay = FRAMES[self.kind]
        out = self.array(lay.dtype, lay.width(h))
        self.end()
        return out


def read_frame(buf, kind: str | None = None) -> tuple[tuple, Payload]:
    """The header and payload cursor of one serialized state. The
    frame's leading bytes name its kind (when ``kind`` is given, any
    other raises); its version, header length and header size are
    checked against :data:`FRAMES`."""
    found = kind_of(buf)
    if kind is not None and found != kind:
        raise SketchFormatError(f"expected a {kind} frame, found {found}")
    lay = FRAMES[found]
    sized = lay.lead.startswith(MAGIC)  # GSK1: the header length follows
    pos = lay.version_at
    # a frame that ends before its version byte is short of version 1's
    st = lay.structs.get(buf[pos] if len(buf) > pos else 1)
    if st is None:
        raise SketchFormatError(f"unknown {found} frame version {buf[pos]}")
    if len(buf) < pos + st.size:
        raise SketchFormatError(f"shorter than a {found} header")
    if sized and int.from_bytes(buf[5:9], "little") != st.size:
        raise SketchFormatError(f"bad {found} header length")
    return (lay.header(*st.unpack_from(buf, pos)),
            Payload(buf, pos + st.size, found))


class Frames(NamedTuple):
    """Header fields and payload byte ranges of validated frames."""

    rows: np.ndarray  # each frame's row, named in errors
    version: np.ndarray  # uint8
    params: np.ndarray  # (n, n_params) int64: hll m; cms d, w; bloom m, k
    count: np.ndarray  # uint64: n_items, or all_sum for cms
    width: np.ndarray  # int64 dense payload elements
    lo: np.ndarray  # int64 payload start in the buffer
    hi: np.ndarray  # int64 payload end


def check_rows(ok: np.ndarray, rows: np.ndarray, what: str) -> None:
    """``ValueError`` naming the first row where ``ok`` is false."""
    if not ok.all():
        raise ValueError(f"sketch state row {int(rows[np.argmin(ok)])}: "
                         f"{what}")


def binary_buffers(arr) -> tuple[np.ndarray, np.ndarray]:
    """(flat uint8 values, int64 offsets) for a string/binary Arrow array."""
    import pyarrow as pa
    large = pa.types.is_large_binary(arr.type)
    if not (large or pa.types.is_binary(arr.type)):
        arr = arr.cast(pa.binary())
    # null-free assumption: sketch inputs are filtered upstream
    offsets = np.frombuffer(arr.buffers()[1],
                            dtype=np.int64 if large else np.int32)[
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


def lead_kinds(data: np.ndarray, lo: np.ndarray,
               hi: np.ndarray) -> np.ndarray:
    """The kind each frame ``data[lo[i]:hi[i]]`` names by the leading
    bytes of :data:`FRAMES`; "" where they name none."""
    out = np.full(len(lo), "", "U8")
    at = np.flatnonzero(hi - lo >= 5)
    head = np.zeros((len(at), 8), np.uint8)  # the first 5 bytes as a u64
    head[:, :5] = _heads(data, lo[at], 5)
    code = head.view("<u8")[:, 0]
    for kind, lay in FRAMES.items():
        lead = int.from_bytes(lay.lead, "little")
        out[at[code & np.uint64((1 << 8 * len(lay.lead)) - 1) == lead]] = kind
    return out


@cache
def _batch_layout(kind: str) -> tuple[np.dtype, np.ndarray]:
    """The numpy form of the fixed part of a ``kind`` frame whose header
    fields after the version are all u64 (HLL, CMS, Bloom): its leading
    bytes and header length, the version, the parameters and the count
    (the last field); and the 9 bytes every such frame starts with."""
    n = FRAMES[kind].params
    dt = np.dtype([("lead", "u1", (9,)), ("version", "u1"),
                   ("params", "<u8", (n,)), ("count", "<u8")])
    return dt, np.frombuffer(frame(kind, 1, *[0] * (n + 1))[:9], np.uint8)


def read_frames(data: np.ndarray, lo, hi, kind: str,
                rows: np.ndarray) -> Frames:
    """Parse the ``kind`` frames ``data[lo[i]:hi[i]]`` of HLL, CMS or
    Bloom straight from a flat buffer, checking every frame against
    :data:`FRAMES` at once: leading bytes, header length, version,
    payload length (the dense size for v1, whole (u32 index, u8 value)
    pairs for sparse HLL v2). A failure raises ``ValueError`` naming the
    frame's row (:func:`_explain`)."""
    lay = FRAMES[kind]
    dt, prefix = _batch_layout(kind)
    lo, hi = np.asarray(lo, np.int64), np.asarray(hi, np.int64)
    size = hi - lo
    _explain(size >= dt.itemsize, data, lo, hi, kind, rows)
    head = _heads(data, lo, dt.itemsize)
    h = head.view(dt)[:, 0]
    params, version = h["params"].astype(np.int64), h["version"]
    width = lay.width(lay.header(version, *params.T, h["count"]))
    plen = size - dt.itemsize
    ok = (version == 1) & (plen == width * lay.dtype.itemsize)
    if kind == "hll":  # or whole sparse (index, value) pairs
        ok |= (version == 2) & (plen % 5 == 0)
    _explain(ok & (head[:, :9] == prefix).all(1), data, lo, hi, kind, rows)
    return Frames(rows, version, params, h["count"], width,
                  lo + dt.itemsize, hi)


def _explain(ok: np.ndarray, data, lo, hi, kind: str, rows) -> None:
    """``ValueError`` for the first frame that is not ``ok``, naming its
    row and what the one-state reader finds wrong with it."""
    if not ok.all():
        bad = int(np.argmin(ok))
        what = f"bad {kind} frame"
        try:
            _ARRAY_STATES[kind].from_bytes(data[lo[bad]:hi[bad]].tobytes())
        except SketchFormatError as e:
            what = str(e)
        raise ValueError(f"sketch state row {int(rows[bad])}: {what}")


def sparse_pairs(data: np.ndarray, fr: Frames):
    """(frame, index, value) of every pair in the sparse HLL frames of
    ``fr``, indices checked against their frame's m and values against
    the ranks a set register holds (1 to :func:`hll_top`)."""
    sp = np.flatnonzero(fr.version == 2)
    cnt = (fr.hi[sp] - fr.lo[sp]) // 5
    mid = fr.lo[sp] + 4 * cnt
    idx = gather(data, fr.lo[sp], mid).view("<u4")
    owner = np.repeat(sp, cnt)
    val = gather(data, mid, fr.hi[sp])
    top = np.repeat(hll_top(fr.width[sp]), cnt)
    for ok, what in ((idx < fr.width[owner], "sparse hll index out of range"),
                     ((val >= 1) & (val <= top),
                      "sparse hll register out of range")):
        if not ok.all():
            check_rows(ok, fr.rows[owner], what)
    return owner, idx, val


def hll_top(m):
    """The largest rank an HLL of ``m`` registers stores: 65 − log₂ m."""
    return 66 - np.frexp(np.asarray(m, np.float64))[1]


def write_frames(kind: str, params: np.ndarray, count: np.ndarray,
                 payload: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Dense (version 1) frames of one parameter set ``params`` as (flat
    bytes, int64 offsets): row i carries ``count[i]`` and ``payload[i]``
    — the bytes ``to_bytes`` writes, for many states at once."""
    head = np.frombuffer(frame(kind, 1, *np.asarray(params).tolist(), 0),
                         np.uint8)
    body = payload.reshape(len(payload), -1).view(np.uint8)
    out = np.empty((len(payload), len(head) + body.shape[1]), np.uint8)
    out[:, :len(head)] = head
    out[:, len(head) - 8:len(head)] = (  # the count ends the header
        np.asarray(count, "<u8").view(np.uint8).reshape(-1, 8))
    out[:, len(head):] = body
    return out.reshape(-1), np.arange(len(out) + 1) * out.shape[1]


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
        return (frame("bloom", 1, self.m, self.k, self.n_items)
                + self.words.tobytes())

    @classmethod
    def from_bytes(cls, buf: bytes) -> "BloomState":
        h, body = read_frame(buf, "bloom")
        return cls(h.m, h.k, body.dense(h), h.n_items)

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
                return (frame("hll", 2, self.m, self.n_items)
                        + idx.astype("<u4").tobytes()
                        + self.registers[idx].tobytes())
        return frame("hll", 1, self.m, self.n_items) + self.registers.tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes) -> "HLLState":
        h, body = read_frame(buf, "hll")
        if h.version == 1:
            regs = body.dense(h)
        else:
            n = (len(body.buf) - body.pos) // 5
            idx = body.array("<u4", n, "sparse indices")
            vals = body.array("u1", n, "sparse values")
            body.end("sparse pairs")
            if (idx >= h.m).any() or not vals.all():
                raise SketchFormatError(
                    "sparse hll index or register out of range")
            regs = np.zeros(h.m, dtype=np.uint8)
            regs[idx] = vals
        if regs.max(initial=0) > hll_top(h.m):
            raise SketchFormatError("hll register out of range")
        return cls(h.m, regs, h.n_items)

    def to_json(self) -> str:
        """Reference ``{nr,nbp,c,r,k}`` — ``base_hyperloglog.go:38-44``."""
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
        return (frame("cms", 1, self.d, self.w, self.all_sum)
                + self.matrix.tobytes())

    @classmethod
    def from_bytes(cls, buf: bytes) -> "CMSState":
        h, body = read_frame(buf, "cms")
        return cls(h.d, h.w, body.dense(h).reshape(h.d, h.w), h.all_sum)

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
    # cap (kernels.topk.Counts): candidate counts for flushed-
    # then-reappearing elements are then partial sums, so the
    # exact=True read path is invalid and readers must re-estimate
    # through the CMS (which holds every flushed count).
    capped: bool = False

    def to_bytes(self) -> bytes:
        cms_bytes = self.cms.to_bytes()
        head = (self.k, self.error_rate, self.accuracy, len(cms_bytes),
                len(self.candidates))
        # version 2 appends the capped flag byte; uncapped states keep
        # writing version 1 so existing serialized states round-trip
        # bit-identically
        out = [frame("topk", 2, *head, 1) if self.capped
               else frame("topk", 1, *head), cms_bytes]
        for e, c in self.candidates.items():
            out += (_CANDIDATE.pack(len(e), c), e)
        return b"".join(out)

    @classmethod
    def from_bytes(cls, buf: bytes) -> "TopKState":
        h, body = read_frame(buf, "topk")
        cms_state = CMSState.from_bytes(body.take(h.cms_len, "CMS frame"))
        cands: dict[bytes, int] = {}
        for _ in range(h.n_cand):
            n, c = body.unpack(_CANDIDATE, "candidate")
            cands[bytes(body.take(n, "candidate"))] = c
        body.end(f"{h.n_cand} candidates")
        return cls(h.k, h.error_rate, h.accuracy, cms_state, cands,
                   capped=bool(h.capped))

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
        out = [struct.pack(">Qdd", self.k, self.error_rate, self.accuracy),
               self.cms.to_reference_binary()]
        # capped builds must re-estimate through the CMS — the exact
        # candidate sums undercount flushed-then-reappearing elements
        top = topk.final_values(self.cms.matrix, self.candidates,
                                       self.k, exact=not self.capped)
        for e, c in top:
            out.append(struct.pack(">Q", len(e)) + e + struct.pack(">Q", c))
        # reference writes exactly k entries; pad with empties if fewer
        for _ in range(self.k - len(top)):
            out.append(struct.pack(">Q", 0) + struct.pack(">Q", 0))
        return b"".join(out)

    @classmethod
    def from_reference_binary(cls, buf: bytes) -> "TopKState":
        cur = Payload(buf, 0, "reference topk")
        k, er, acc = cur.unpack(struct.Struct(">Qdd"))
        d, w = struct.unpack_from(">QQ", buf, cur.pos)
        cms_state = CMSState.from_reference_binary(cur.take(24 + 8 * d * w))
        cands: dict[bytes, int] = {}
        for _ in range(k):
            e = bytes(cur.take(*cur.unpack(_BE_U64)))
            (c,) = cur.unpack(_BE_U64)
            if e:
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
        return (frame("cuckoo", 1, self.size, self.bucket_size, self.fp_len,
                      self.retries, self.length) + self.buckets.tobytes())

    @classmethod
    def from_bytes(cls, buf: bytes) -> "CuckooState":
        h, body = read_frame(buf, "cuckoo")
        buckets = body.dense(h).reshape(h.size, h.bucket_size)
        if (n := np.count_nonzero(buckets)) != h.length:
            raise SketchFormatError(f"cuckoo frame holds {h.length} items"
                                    f" but {n} set slots")
        return cls(*h[1:], buckets)

    def filter(self) -> cuckoo.CuckooFilter:
        """The kernel filter over these buckets (shared, not copied)."""
        return cuckoo.CuckooFilter(self.size, self.bucket_size, self.fp_len,
                                   self.retries, buckets=self.buckets,
                                   length=self.length)

    @classmethod
    def of(cls, f: cuckoo.CuckooFilter) -> "CuckooState":
        """The state of a kernel filter."""
        return cls(f.size, f.bucket_size, f.fp_len, f.retries, f.length,
                   f.buckets)

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
        cur = Payload(buf, 0, "reference cuckoo")
        size, bs, fpl, ln, r = cur.unpack(struct.Struct(">5Q"))
        buckets = np.zeros((size, bs), dtype=np.uint64)
        for i in range(size):
            for j in range(cur.unpack(struct.Struct(">QQ"))[1]):
                fp = cur.take(*cur.unpack(_BE_U64))
                buckets[i, j] = int(bytes(fp)) + 1
        return cls(size, bs, fpl, r, ln, buckets)


_ARRAY_STATES = {"hll": HLLState, "cms": CMSState, "bloom": BloomState}
