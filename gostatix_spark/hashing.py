"""Vectorized hash functions for the sketch library.

The reference (kwertop/gostatix) hashes every element with one of two
128-bit hash functions and derives all index positions from the (h1, h2)
pair (reference: ``bloom_filter.go:322-330``, ``base_count_min_sketch.go:52-59``,
``base_hyperloglog.go:84-85``, ``base_cuckoo_filter.go:90-94``):

* **MurmurHash3 x64-128, seed 0** — used by the cuckoo filter
  (reference vendored copy: ``murmur.go:8-141``). The algorithm is public
  (Austin Appleby, public domain).
* **MetroHash128, seed 1373** — used by bloom / HLL / CMS via
  ``dgryski/go-metro`` (reference: ``go.mod:8``). The algorithm is public
  (J. Andrew Rogers, MIT).

Both are implemented here twice:

1. a **scalar pure-Python reference** (``murmur3_128`` / ``metrohash128``)
   used for arbitrary-length byte strings in tests and small driver-side
   probes, and
2. a **vectorized numpy version** over a *fixed-width* byte matrix
   (``murmur3_128_vec`` / ``metrohash128_vec``) used in the hot path.
   Fixed width means the block/tail control flow is a compile-time
   constant for the whole batch, so everything is branch-free numpy
   uint64 arithmetic (wrapping semantics match Go's uint64).

``hash_bytes_batch`` bridges the two worlds: it groups a list of
arbitrary byte strings by length and runs the vectorized path per length
group — no per-row Python in the hot loop.

Canonical element encodings (SURVEY.md §1.1):

* ``int32``/``uint32`` token → 4-byte **big-endian** (matches the
  reference's own uint32-BE test usage, ``bloom_filter_test.go:68-91``);
* ``array<int32>`` → concatenation of the 4-byte-BE tokens;
* strings → UTF-8 bytes (``bloom_filter.go:218-225`` semantics).
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64
MASK64 = 0xFFFFFFFFFFFFFFFF

# ---------------------------------------------------------------------------
# scalar helpers (pure python, arbitrary length)
# ---------------------------------------------------------------------------


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & MASK64


def _rotr64(x: int, r: int) -> int:
    return ((x >> r) | (x << (64 - r))) & MASK64


def _fmix64(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & MASK64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & MASK64
    k ^= k >> 33
    return k


_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F


def murmur3_128(data: bytes, seed: int = 0) -> tuple[int, int]:
    """MurmurHash3 x64-128 (scalar). Returns (h1, h2) as unsigned ints.

    Semantics identical to the reference's vendored copy
    (``murmur.go:134-141`` entry; block mix ``murmur.go:19-44``; tail +
    finalize ``murmur.go:48-123``), which reads 16-byte blocks as two
    little-endian uint64s.
    """
    h1 = h2 = seed & MASK64
    n = len(data)
    nblocks = n // 16
    for i in range(nblocks):
        k1 = int.from_bytes(data[i * 16 : i * 16 + 8], "little")
        k2 = int.from_bytes(data[i * 16 + 8 : i * 16 + 16], "little")
        k1 = (k1 * _C1) & MASK64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & MASK64
        h1 ^= k1
        h1 = _rotl64(h1, 27)
        h1 = (h1 + h2) & MASK64
        h1 = (h1 * 5 + 0x52DCE729) & MASK64
        k2 = (k2 * _C2) & MASK64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & MASK64
        h2 ^= k2
        h2 = _rotl64(h2, 31)
        h2 = (h2 + h1) & MASK64
        h2 = (h2 * 5 + 0x38495AB5) & MASK64

    tail = data[nblocks * 16 :]
    k1 = k2 = 0
    t = len(tail)
    for j in range(min(t, 8)):
        k1 |= tail[j] << (8 * j)
    for j in range(8, t):
        k2 |= tail[j] << (8 * (j - 8))
    if t > 8:
        k2 = (k2 * _C2) & MASK64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & MASK64
        h2 ^= k2
    if t > 0:
        k1 = (k1 * _C1) & MASK64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & MASK64
        h1 ^= k1

    h1 ^= n
    h2 ^= n
    h1 = (h1 + h2) & MASK64
    h2 = (h2 + h1) & MASK64
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = (h1 + h2) & MASK64
    h2 = (h2 + h1) & MASK64
    return h1, h2


# MetroHash128 constants (public spec, J. Andrew Rogers; as used by
# dgryski/go-metro which the reference pins in go.mod:8).
_MK0 = 0xC83A91E1
_MK1 = 0x8648DBDB
_MK2 = 0x7BDEC03B
_MK3 = 0x2F5870A5


def metrohash128(data: bytes, seed: int = 1373) -> tuple[int, int]:
    """MetroHash128 (scalar). Returns (h1, h2) as unsigned ints.

    The reference calls ``metro.Hash128(data, 1373)`` for bloom / HLL /
    CMS (``bloom_filter.go:322-325``, ``base_hyperloglog.go:84-85``,
    ``base_count_min_sketch.go:52-55``).
    """
    seed &= MASK64
    v0 = ((seed - _MK0) & MASK64) * _MK3 & MASK64
    v1 = ((seed + _MK1) & MASK64) * _MK2 & MASK64
    pos = 0
    n = len(data)

    if n >= 32:
        v2 = ((seed + _MK0) & MASK64) * _MK2 & MASK64
        v3 = ((seed - _MK1) & MASK64) * _MK3 & MASK64
        while n - pos >= 32:
            v0 = (v0 + int.from_bytes(data[pos : pos + 8], "little") * _MK0) & MASK64
            v0 = (_rotr64(v0, 29) + v2) & MASK64
            v1 = (v1 + int.from_bytes(data[pos + 8 : pos + 16], "little") * _MK1) & MASK64
            v1 = (_rotr64(v1, 29) + v3) & MASK64
            v2 = (v2 + int.from_bytes(data[pos + 16 : pos + 24], "little") * _MK2) & MASK64
            v2 = (_rotr64(v2, 29) + v0) & MASK64
            v3 = (v3 + int.from_bytes(data[pos + 24 : pos + 32], "little") * _MK3) & MASK64
            v3 = (_rotr64(v3, 29) + v1) & MASK64
            pos += 32
        v2 ^= (_rotr64(((v0 + v3) & MASK64) * _MK0 + v1 & MASK64, 21) * _MK1) & MASK64
        v3 ^= (_rotr64(((v1 + v2) & MASK64) * _MK1 + v0 & MASK64, 21) * _MK0) & MASK64
        v0 ^= (_rotr64(((v0 + v2) & MASK64) * _MK0 + v3 & MASK64, 21) * _MK1) & MASK64
        v1 ^= (_rotr64(((v1 + v3) & MASK64) * _MK1 + v2 & MASK64, 21) * _MK0) & MASK64

    if n - pos >= 16:
        v0 = (v0 + int.from_bytes(data[pos : pos + 8], "little") * _MK2) & MASK64
        v0 = (_rotr64(v0, 33) * _MK3) & MASK64
        v1 = (v1 + int.from_bytes(data[pos + 8 : pos + 16], "little") * _MK2) & MASK64
        v1 = (_rotr64(v1, 33) * _MK3) & MASK64
        v0 ^= (_rotr64((v0 * _MK2 + v1) & MASK64, 45) * _MK1) & MASK64
        v1 ^= (_rotr64((v1 * _MK3 + v0) & MASK64, 45) * _MK0) & MASK64
        pos += 16

    if n - pos >= 8:
        v0 = (v0 + int.from_bytes(data[pos : pos + 8], "little") * _MK2) & MASK64
        v0 = (_rotr64(v0, 33) * _MK3) & MASK64
        v0 ^= (_rotr64((v0 * _MK2 + v1) & MASK64, 27) * _MK1) & MASK64
        pos += 8

    if n - pos >= 4:
        v1 = (v1 + int.from_bytes(data[pos : pos + 4], "little") * _MK2) & MASK64
        v1 = (_rotr64(v1, 33) * _MK3) & MASK64
        v1 ^= (_rotr64((v1 * _MK3 + v0) & MASK64, 46) * _MK0) & MASK64
        pos += 4

    if n - pos >= 2:
        v0 = (v0 + int.from_bytes(data[pos : pos + 2], "little") * _MK2) & MASK64
        v0 = (_rotr64(v0, 33) * _MK3) & MASK64
        v0 ^= (_rotr64((v0 * _MK2 + v1) & MASK64, 22) * _MK1) & MASK64
        pos += 2

    if n - pos >= 1:
        v1 = (v1 + data[pos] * _MK2) & MASK64
        v1 = (_rotr64(v1, 33) * _MK3) & MASK64
        v1 ^= (_rotr64((v1 * _MK3 + v0) & MASK64, 58) * _MK0) & MASK64

    v0 = (v0 + _rotr64((v0 * _MK0 + v1) & MASK64, 13)) & MASK64
    v1 = (v1 + _rotr64((v1 * _MK1 + v0) & MASK64, 37)) & MASK64
    v0 = (v0 + _rotr64((v0 * _MK2 + v1) & MASK64, 13)) & MASK64
    v1 = (v1 + _rotr64((v1 * _MK3 + v0) & MASK64, 37)) & MASK64
    return v0, v1


# ---------------------------------------------------------------------------
# vectorized versions over fixed-width byte matrices
# ---------------------------------------------------------------------------


def _vrotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << U64(r)) | (x >> U64(64 - r))


def _vrotr(x: np.ndarray, r: int) -> np.ndarray:
    return (x >> U64(r)) | (x << U64(64 - r))


def _le_u64(mat: np.ndarray, off: int, nbytes: int = 8) -> np.ndarray:
    """Little-endian uint64 from ``mat[:, off:off+nbytes]`` (nbytes ≤ 8)."""
    out = np.zeros(mat.shape[0], dtype=U64)
    for j in range(nbytes):
        out |= mat[:, off + j].astype(U64) << U64(8 * j)
    return out


def _vfmix64(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> U64(33))
    k = k * U64(0xFF51AFD7ED558CCD)
    k = k ^ (k >> U64(33))
    k = k * U64(0xC4CEB9FE1A85EC53)
    k = k ^ (k >> U64(33))
    return k


def murmur3_128_vec(mat: np.ndarray, seed: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized MurmurHash3 x64-128 over an ``(n, L)`` uint8 matrix.

    All rows share the same length L, so the block count and tail shape
    are constants — every step is a whole-array uint64 op. Bit-exact with
    :func:`murmur3_128` (cross-checked in tests/test_hashing.py).
    """
    assert mat.dtype == np.uint8 and mat.ndim == 2
    n, length = mat.shape
    h1 = np.full(n, seed, dtype=U64)
    h2 = np.full(n, seed, dtype=U64)
    c1, c2 = U64(_C1), U64(_C2)

    nblocks = length // 16
    for i in range(nblocks):
        k1 = _le_u64(mat, i * 16)
        k2 = _le_u64(mat, i * 16 + 8)
        k1 = _vrotl(k1 * c1, 31) * c2
        h1 = h1 ^ k1
        h1 = _vrotl(h1, 27) + h2
        h1 = h1 * U64(5) + U64(0x52DCE729)
        k2 = _vrotl(k2 * c2, 33) * c1
        h2 = h2 ^ k2
        h2 = _vrotl(h2, 31) + h1
        h2 = h2 * U64(5) + U64(0x38495AB5)

    t = length & 15
    toff = nblocks * 16
    if t > 8:
        k2 = _le_u64(mat, toff + 8, t - 8)
        k2 = _vrotl(k2 * c2, 33) * c1
        h2 = h2 ^ k2
    if t > 0:
        k1 = _le_u64(mat, toff, min(t, 8))
        k1 = _vrotl(k1 * c1, 31) * c2
        h1 = h1 ^ k1

    h1 = h1 ^ U64(length)
    h2 = h2 ^ U64(length)
    h1 = h1 + h2
    h2 = h2 + h1
    h1 = _vfmix64(h1)
    h2 = _vfmix64(h2)
    h1 = h1 + h2
    h2 = h2 + h1
    return h1, h2


def metrohash128_vec(mat: np.ndarray, seed: int = 1373) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized MetroHash128 over an ``(n, L)`` uint8 matrix.

    Bit-exact with :func:`metrohash128` (cross-checked in tests).
    """
    assert mat.dtype == np.uint8 and mat.ndim == 2
    n, length = mat.shape
    k0, k1c, k2c, k3c = U64(_MK0), U64(_MK1), U64(_MK2), U64(_MK3)
    seed &= MASK64
    v0 = np.full(n, (((seed - _MK0) & MASK64) * _MK3) & MASK64, dtype=U64)
    v1 = np.full(n, (((seed + _MK1) & MASK64) * _MK2) & MASK64, dtype=U64)
    pos = 0

    if length >= 32:
        v2 = np.full(n, (((seed + _MK0) & MASK64) * _MK2) & MASK64, dtype=U64)
        v3 = np.full(n, (((seed - _MK1) & MASK64) * _MK3) & MASK64, dtype=U64)
        while length - pos >= 32:
            v0 = _vrotr(v0 + _le_u64(mat, pos) * k0, 29) + v2
            v1 = _vrotr(v1 + _le_u64(mat, pos + 8) * k1c, 29) + v3
            v2 = _vrotr(v2 + _le_u64(mat, pos + 16) * k2c, 29) + v0
            v3 = _vrotr(v3 + _le_u64(mat, pos + 24) * k3c, 29) + v1
            pos += 32
        v2 = v2 ^ (_vrotr((v0 + v3) * k0 + v1, 21) * k1c)
        v3 = v3 ^ (_vrotr((v1 + v2) * k1c + v0, 21) * k0)
        v0 = v0 ^ (_vrotr((v0 + v2) * k0 + v3, 21) * k1c)
        v1 = v1 ^ (_vrotr((v1 + v3) * k1c + v2, 21) * k0)

    if length - pos >= 16:
        v0 = _vrotr(v0 + _le_u64(mat, pos) * k2c, 33) * k3c
        v1 = _vrotr(v1 + _le_u64(mat, pos + 8) * k2c, 33) * k3c
        v0 = v0 ^ (_vrotr(v0 * k2c + v1, 45) * k1c)
        v1 = v1 ^ (_vrotr(v1 * k3c + v0, 45) * k0)
        pos += 16

    if length - pos >= 8:
        v0 = _vrotr(v0 + _le_u64(mat, pos) * k2c, 33) * k3c
        v0 = v0 ^ (_vrotr(v0 * k2c + v1, 27) * k1c)
        pos += 8

    if length - pos >= 4:
        v1 = _vrotr(v1 + _le_u64(mat, pos, 4) * k2c, 33) * k3c
        v1 = v1 ^ (_vrotr(v1 * k3c + v0, 46) * k0)
        pos += 4

    if length - pos >= 2:
        v0 = _vrotr(v0 + _le_u64(mat, pos, 2) * k2c, 33) * k3c
        v0 = v0 ^ (_vrotr(v0 * k2c + v1, 22) * k1c)
        pos += 2

    if length - pos >= 1:
        v1 = _vrotr(v1 + mat[:, pos].astype(U64) * k2c, 33) * k3c
        v1 = v1 ^ (_vrotr(v1 * k3c + v0, 58) * k0)

    v0 = v0 + _vrotr(v0 * k0 + v1, 13)
    v1 = v1 + _vrotr(v1 * k1c + v0, 37)
    v0 = v0 + _vrotr(v0 * k2c + v1, 13)
    v1 = v1 + _vrotr(v1 * k3c + v0, 37)
    return v0, v1


# Chunk hot-path hashing so every temporary stays cache-resident: a
# (2^18, 4) batch keeps the ~30 uint64 temporaries per mix step at
# ~2 MB each instead of tens of MB, which is the difference between
# core-local L2/L3 traffic and saturating shared DRAM bandwidth when
# 32 executor threads hash concurrently.
_HASH_CHUNK = 1 << 18


def _chunked(fn):
    def wrapper(mat: np.ndarray, seed: int):
        n = len(mat)
        if n <= _HASH_CHUNK:
            return fn(mat, seed)
        h1 = np.empty(n, dtype=U64)
        h2 = np.empty(n, dtype=U64)
        for s in range(0, n, _HASH_CHUNK):
            a, b = fn(mat[s:s + _HASH_CHUNK], seed)
            h1[s:s + _HASH_CHUNK] = a
            h2[s:s + _HASH_CHUNK] = b
        return h1, h2
    return wrapper


_VEC = {"murmur3": _chunked(murmur3_128_vec), "metro": _chunked(metrohash128_vec)}
_SCALAR = {"murmur3": murmur3_128, "metro": metrohash128}
DEFAULT_SEED = {"murmur3": 0, "metro": 1373}


# ---------------------------------------------------------------------------
# canonical encodings + batch entry points
# ---------------------------------------------------------------------------


def tokens_to_bytes_matrix(tokens: np.ndarray) -> np.ndarray:
    """``int32/uint32 token → 4-byte big-endian`` as an (n, 4) uint8 matrix.

    Canonical per SURVEY.md §1.1 (mirrors the reference's uint32-BE test
    encoding, ``bloom_filter_test.go:71-77``). Zero-copy-ish: one astype.
    """
    flat = np.ascontiguousarray(tokens, dtype=np.int64).astype(">u4")
    return flat.view(np.uint8).reshape(-1, 4)


def hash_tokens(tokens: np.ndarray, algo: str = "metro", seed: int | None = None):
    """Hash a flat array of int32 tokens. Returns (h1, h2) uint64 arrays."""
    if seed is None:
        seed = DEFAULT_SEED[algo]
    return _VEC[algo](tokens_to_bytes_matrix(tokens), seed)


def hash_var_bytes(values: np.ndarray, offsets: np.ndarray, algo: str = "metro",
                   seed: int | None = None):
    """Hash n variable-length byte strings given as a flat uint8 buffer +
    Arrow-style (n+1,) offsets. Returns (h1, h2) uint64 arrays.

    Vectorized by grouping rows by length: each length group is gathered
    into a fixed-width uint8 matrix and hashed with the numpy kernel in
    one shot — no per-row Python.
    """
    if seed is None:
        seed = DEFAULT_SEED[algo]
    offsets = np.asarray(offsets, dtype=np.int64)
    n = len(offsets) - 1
    lens = np.diff(offsets)
    starts = offsets[:-1]
    h1 = np.empty(n, dtype=U64)
    h2 = np.empty(n, dtype=U64)
    fn = _VEC[algo]
    for ln in np.unique(lens):
        idx = np.nonzero(lens == ln)[0]
        if ln == 0:
            mat = np.zeros((len(idx), 0), dtype=np.uint8)
        else:
            mat = values[starts[idx][:, None] + np.arange(ln)[None, :]]
        a, b = fn(mat, seed)
        h1[idx] = a
        h2[idx] = b
    return h1, h2


def hash_bytes_batch(items, algo: str = "metro", seed: int | None = None):
    """Hash a sequence of arbitrary ``bytes``. Returns (h1, h2) uint64 arrays.

    Convenience wrapper over :func:`hash_var_bytes` for python lists.
    """
    lens = np.fromiter((len(b) for b in items), dtype=np.int64, count=len(items))
    offsets = np.concatenate(([0], np.cumsum(lens)))
    buf = b"".join(items)
    values = np.frombuffer(buf, dtype=np.uint8) if buf else np.zeros(0, np.uint8)
    return hash_var_bytes(values, offsets, algo, seed)


def hash_token_arrays(values: np.ndarray, offsets: np.ndarray, algo: str = "metro",
                      seed: int | None = None):
    """Hash each *token array* (document) under the canonical encoding
    ``array<int32> → concat of 4-byte-BE tokens``.

    ``values`` is the flattened token stream, ``offsets`` the Arrow-style
    (n+1,) int offsets. Vectorized by grouping documents by n_tok.
    """
    byte_view = tokens_to_bytes_matrix(values).reshape(-1)  # 4 bytes per token
    return hash_var_bytes(byte_view, np.asarray(offsets, dtype=np.int64) * 4,
                          algo, seed)


def int64s_to_bytes_matrix(vals: np.ndarray) -> np.ndarray:
    """``int64 → 8-byte big-endian`` (n, 8) uint8 — canonical for 64-bit ids."""
    flat = np.ascontiguousarray(vals, dtype=np.int64).astype(">i8")
    return flat.view(np.uint8).reshape(-1, 8)


def hash_int64s(vals: np.ndarray, algo: str = "metro", seed: int | None = None):
    """Hash a flat array of int64 ids (8-byte-BE canonical encoding)."""
    if seed is None:
        seed = DEFAULT_SEED[algo]
    return _VEC[algo](int64s_to_bytes_matrix(vals), seed)


def mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (public domain, Steele et al.) over a uint64
    array. Used to derive SHARD routing from an element hash: the raw
    ``h1 % n_shards`` shares low bits with the in-filter addressing
    (cuckoo ``i1 = h1 % size`` with power-of-two size; bloom position
    ``h1 % m``), so within a shard only ``1/n_shards`` of the table
    would ever be addressable — a silent load-factor inflation. The
    finalizer decorrelates the two uses."""
    h = np.asarray(h, dtype=np.uint64)
    with np.errstate(over="ignore"):
        h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return h ^ (h >> np.uint64(31))


def shard_of(h1: np.ndarray, n_shards: int) -> np.ndarray:
    """Shard id for each element hash — THE routing rule shared by every
    sharded build and its probe path (int64 output for Spark columns)."""
    return (mix64(h1) % np.uint64(n_shards)).astype(np.int64)
