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

import numpy as np

from gostatix_spark.params import hll_alpha

MAGIC = b"GSK1"
_KINDS = {1: "bloom", 2: "hll", 3: "cms", 4: "topk", 5: "cuckoo"}
_KIND_IDS = {v: k for k, v in _KINDS.items()}


def _frame(kind: str, header: bytes, payload: bytes) -> bytes:
    return MAGIC + bytes([_KIND_IDS[kind]]) + struct.pack("<I", len(header)) + header + payload


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
        header, payload = _unframe(buf, "bloom")
        _, m, k, n = struct.unpack("<BQQQ", header)
        return cls(m, k, np.frombuffer(payload, dtype=np.uint64).copy(), n)

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
        header, payload = _unframe(buf, "hll")
        ver, m, n = struct.unpack("<BQQ", header)
        if ver == 2:
            cnt = len(payload) // 5
            idx = np.frombuffer(payload, dtype="<u4", count=cnt)
            vals = np.frombuffer(payload, dtype=np.uint8,
                                 count=cnt, offset=4 * cnt)
            regs = np.zeros(m, dtype=np.uint8)
            regs[idx] = vals
            return cls(m, regs, n)
        return cls(m, np.frombuffer(payload, dtype=np.uint8).copy(), n)

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
        header, payload = _unframe(buf, "cms")
        _, d, w, s = struct.unpack("<BQQQ", header)
        return cls(d, w, np.frombuffer(payload, dtype=np.uint64).reshape(d, w).copy(), s)

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
        for _ in range(n_cand):
            elen, c = struct.unpack_from("<IQ", payload, off)
            off += 12
            cands[payload[off : off + elen]] = c
            off += elen
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
