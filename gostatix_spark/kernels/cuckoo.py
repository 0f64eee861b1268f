"""Cuckoo filter kernel (numpy).

Mirrors the reference's semantics (``cuckoo_filter.go``,
``base_cuckoo_filter.go``):

* fingerprint = first ``fp_len`` chars of the **decimal string** of
  murmur3-x64-128(seed 0) h1 (``base_cuckoo_filter.go:77-88`` — quirk
  SURVEY.md §1.6.6, kept verbatim; stored here as ``int(prefix)+1`` in a
  uint64 bucket table, 0 = empty slot);
* ``i1 = h1 mod size``; ``i2 = (i1 XOR H(fp_string)) mod size`` where
  ``H`` hashes the ASCII digits of the fingerprint;
* insert tries i1 then i2, else a kick loop of ≤ ``retries`` random
  evictions, with rollback of displaced entries on failure unless
  ``destructive`` (``cuckoo_filter.go:74-115``) — failure raises
  :class:`FilterFullError` (the reference panics);
* remove unsets the first matching slot at i1 else i2
  (``cuckoo_filter.go:128-144``); lookup checks both buckets
  (``cuckoo_filter.go:118-125``).

Divergences (documented per SURVEY.md §1.6):

* randomness is a seeded ``numpy.random.Generator`` (reference uses
  global ``math/rand`` — §1.6.8); the victim-slot distribution covers
  all slots uniformly instead of the reference's ceil(rand·(len−1))
  which can never evict slot 0;
* an element whose h1 has fewer than ``fp_len`` decimal digits (``""``
  hashes to h1 = 0) cannot be inserted: ``getPositions`` returns an
  error for it (SURVEY.md row C2), raised here as
  :class:`FingerprintLengthError`. A lookup of it reads False: it can
  never have been inserted;
* the builder API rounds ``size`` up to a power of two so the XOR
  partner map is involutive (§1.6.5); the kernel itself accepts any
  size and applies the reference's exact ``% size`` formula.

``bulk_place`` is the vectorized distributed build path: a few greedy
array-wide placement rounds put >99% of items without any per-row
Python; only items whose both buckets are full fall back to the
sequential kick loop.
"""

from __future__ import annotations

import numpy as np

from gostatix_spark import hashing

U64 = np.uint64

_POW10 = np.array([10**i for i in range(20)], dtype=U64)


class FilterFullError(RuntimeError):
    """Raised where the reference panics: ``cannot insert element,
    cuckoofilter is full`` (``cuckoo_filter.go:111``)."""


class FingerprintLengthError(ValueError):
    """An element's h1 has fewer decimal digits than the fingerprint
    length, where ``getPositions`` returns its error
    (``base_cuckoo_filter.go:77-88``)."""


def fingerprints_and_indices(h1: np.ndarray, fp_len: int, size: int):
    """Vectorized ``getPositions`` (``base_cuckoo_filter.go:77-88``).

    Returns (fp_plus1, i1, i2) uint64 arrays. fp_plus1 is the integer
    value of the decimal-string prefix plus one (0 is the empty-slot
    sentinel; a prefix has no leading zero because the decimal rendering
    of h1 never does, so the +1 encoding is injective).
    """
    # exact digit count via uint64 threshold comparisons (no float)
    nd = (h1[:, None] >= _POW10[None, 1:]).sum(axis=1) + 1  # 1..20
    short = nd < fp_len
    if short.any():
        raise FingerprintLengthError(
            f"fingerprint length {fp_len} is higher than the hash length of "
            f"{int(short.sum())} element(s); the first has h1 "
            f"{int(h1[short][0])}")
    prefix = h1 // _POW10[nd - fp_len]
    # ASCII digit matrix of the prefix (exactly fp_len chars)
    digits = np.empty((len(h1), fp_len), dtype=np.uint8)
    rem = prefix.copy()
    for j in range(fp_len - 1, -1, -1):
        digits[:, j] = (rem % U64(10)).astype(np.uint8) + 48
        rem //= U64(10)
    fp_hash, _ = hashing.murmur3_128_vec(digits, 0)
    i1 = h1 % U64(size)
    i2 = (i1 ^ fp_hash) % U64(size)
    return prefix + U64(1), i1, i2


def _fp_partner_hash(fp_plus1: int, fp_len: int) -> int:
    """H(fingerprint string) for a single stored fingerprint."""
    s = str(int(fp_plus1) - 1).rjust(fp_len, "0")  # prefix never needs padding
    h1, _ = hashing.murmur3_128(s.encode("ascii"), 0)
    return h1


class CuckooFilter:
    """Single-node cuckoo filter over a ``(size, bucket_size)`` uint64
    table. This is both the test-vector replay kernel and the phase-2
    per-key build kernel of the distributed path (SURVEY.md §3.3)."""

    def __init__(self, size: int, bucket_size: int, fp_len: int,
                 retries: int = 500, seed: int = 42,
                 buckets: np.ndarray | None = None, length: int = 0):
        self.size = int(size)
        self.bucket_size = int(bucket_size)
        self.fp_len = int(fp_len)
        self.retries = int(retries)
        self.rng = np.random.default_rng(seed)
        self.buckets = (np.zeros((self.size, self.bucket_size), dtype=U64)
                        if buckets is None else buckets)
        self.length = length

    # -- scalar ops (reference-faithful slot layout) ----------------------

    def _positions(self, data: bytes):
        h1, _ = hashing.murmur3_128(data, 0)
        fp, i1, i2 = fingerprints_and_indices(
            np.array([h1], dtype=U64), self.fp_len, self.size)
        return int(fp[0]), int(i1[0]), int(i2[0])

    def _first_free(self, b: int) -> int:
        free = np.nonzero(self.buckets[b] == 0)[0]
        return int(free[0]) if len(free) else -1

    def insert(self, data: bytes, destructive: bool = False) -> bool:
        fp, i1, i2 = self._positions(data)
        s = self._first_free(i1)
        if s >= 0:
            self.buckets[i1, s] = fp
        else:
            s = self._first_free(i2)
            if s >= 0:
                self.buckets[i2, s] = fp
            else:
                self._kick_insert(fp, i1, i2, destructive)
        self.length += 1
        return True

    def _kick_insert(self, fp: int, i1: int, i2: int, destructive: bool) -> None:
        index = i1 if self.rng.random() < 0.5 else i2
        curr = fp
        trail: list[tuple[int, int, int]] = []  # (prev_fp, bucket, slot)
        for _ in range(self.retries):
            slot = int(self.rng.integers(0, self.bucket_size))
            prev = int(self.buckets[index, slot])
            trail.append((prev, index, slot))
            self.buckets[index, slot] = curr
            new_index = (index ^ _fp_partner_hash(prev, self.fp_len)) % self.size
            s = self._first_free(new_index)
            if s >= 0:
                self.buckets[new_index, s] = prev
                return
            curr = prev
            index = new_index
        if not destructive:
            for prev, b, slot in reversed(trail):
                self.buckets[b, slot] = prev
        raise FilterFullError("cannot insert element, cuckoofilter is full")

    def lookup(self, data: bytes) -> bool:
        h1, _ = hashing.murmur3_128(data, 0)
        return bool(self.lookup_hashes(np.array([h1], dtype=U64))[0])

    def remove(self, data: bytes) -> bool:
        fp, i1, i2 = self._positions(data)
        for b in (i1, i2):
            hit = np.nonzero(self.buckets[b] == fp)[0]
            if len(hit):
                self.buckets[b, hit[0]] = 0
                self.length -= 1
                return True
        return False

    def positive_rate(self) -> float:
        """2^(log2(2b) − f) — ``base_cuckoo_filter.go:73-75``."""
        import math
        return 2.0 ** (math.log2(2 * self.bucket_size) - self.fp_len)

    def equals(self, other: "CuckooFilter") -> bool:
        """Multiset equality per bucket (slot order is layout, not
        semantics — divergence from the reference's positional compare,
        ``cuckoo_filter.go:147-158``, noted in SURVEY.md §1.6)."""
        if self.buckets.shape != other.buckets.shape:
            return False
        return bool((np.sort(self.buckets, axis=1)
                     == np.sort(other.buckets, axis=1)).all())

    # -- vectorized bulk build --------------------------------------------

    def bulk_insert_hashes(self, h1: np.ndarray, destructive: bool = False) -> None:
        """Insert a whole batch of pre-hashed elements. Greedy vectorized
        rounds on (i1, i2); sequential kick loop only for leftovers."""
        fp, i1, i2 = fingerprints_and_indices(h1, self.fp_len, self.size)
        pending = np.arange(len(h1))
        for cand in (i1, i2):
            if not len(pending):
                break
            placed = _greedy_place(self.buckets, cand[pending], fp[pending])
            self.length += int(placed.sum())
            pending = pending[~placed]
        for j in pending:  # both buckets full — rare below ~0.95 load
            self._kick_insert(int(fp[j]), int(i1[j]), int(i2[j]), destructive)
            self.length += 1

    def bulk_remove_hashes(self, h1: np.ndarray) -> np.ndarray:
        """Vectorized batch ``Remove`` (``cuckoo_filter.go:128-144``
        semantics: unset the first matching slot at i1, else i2) for a
        batch of pre-hashed elements. Returns a removed-mask.

        Sequential equivalence incl. duplicates: within a (bucket, fp)
        group the r-th duplicate clears the (r+1)-th matching slot in
        index order — exactly what r sequential scalar removes do
        (each clears the lowest-index remaining match); duplicates that
        exhaust i1's matches fall through to the i2 round, as the
        scalar path would after i1 empties.

        Caveat (cross-element fingerprint collisions): when two
        DISTINCT batch elements share a fingerprint and one element's
        i1 bucket aliases the other's i2, the round-synchronized
        i1-then-i2 order can remove fewer stored copies than strictly
        sequential scalar removes would (a copy survives and the
        removed-mask differs). The divergence is benign for filter
        semantics — no false negatives are introduced and the state
        stays valid — and is only reachable with short ``fp_len``;
        exact scalar-sequence equivalence holds when batch elements'
        fingerprints are distinct (the overwhelmingly common case)."""
        fp, i1, i2 = fingerprints_and_indices(h1, self.fp_len, self.size)
        removed = np.zeros(len(h1), dtype=bool)
        pending = np.arange(len(h1))
        for cand in (i1, i2):
            if not len(pending):
                break
            ok = _grouped_unset(self.buckets, cand[pending], fp[pending])
            removed[pending[ok]] = True
            pending = pending[~ok]
        self.length -= int(removed.sum())
        return removed

    def lookup_hashes(self, h1: np.ndarray) -> np.ndarray:
        """Vectorized membership for a batch of pre-hashed elements. One
        whose h1 is too short for a fingerprint reads False: it can
        never have been inserted."""
        short = h1 < _POW10[self.fp_len - 1]
        if short.any():
            hit = np.zeros(len(h1), dtype=bool)
            hit[~short] = self.lookup_hashes(h1[~short])
            return hit
        fp, i1, i2 = fingerprints_and_indices(h1, self.fp_len, self.size)
        a = (self.buckets[i1.astype(np.int64)] == fp[:, None]).any(axis=1)
        b = (self.buckets[i2.astype(np.int64)] == fp[:, None]).any(axis=1)
        return a | b


def _grouped_unset(buckets: np.ndarray, bi: np.ndarray, fp: np.ndarray) -> np.ndarray:
    """One vectorized removal round: each item wants to clear one slot
    equal to ``fp`` in bucket ``bi``; the r-th item of a (bucket, fp)
    group clears that bucket's (r+1)-th matching slot. Groups with
    different fps touch disjoint slots, so a snapshot + cumsum is safe.
    Returns a cleared-mask. No per-row Python."""
    n = len(bi)
    if n == 0:
        return np.zeros(0, dtype=bool)
    bi = bi.astype(np.int64)
    order = np.lexsort((fp, bi))
    sb, sf = bi[order], fp[order]
    first = np.concatenate(([True], (sb[1:] != sb[:-1]) | (sf[1:] != sf[:-1])))
    group_start = np.maximum.accumulate(np.where(first, np.arange(n), 0))
    rank = np.arange(n) - group_start  # 0-based rank within (bucket, fp)
    snap_match = buckets[sb] == sf[:, None]  # (n, b) snapshot
    cum = np.cumsum(snap_match, axis=1)
    sel = snap_match & (cum == (rank + 1)[:, None])
    ok = sel.any(axis=1)
    slot = sel.argmax(axis=1)
    buckets[sb[ok], slot[ok]] = 0
    cleared = np.zeros(n, dtype=bool)
    cleared[order] = ok
    return cleared


def _greedy_place(buckets: np.ndarray, bi: np.ndarray, fp: np.ndarray) -> np.ndarray:
    """One vectorized placement round: each item targets bucket ``bi``;
    the r-th item aiming at a bucket takes that bucket's (r+1)-th free
    slot. Returns a placed-mask. No per-row Python."""
    n = len(bi)
    if n == 0:
        return np.zeros(0, dtype=bool)
    bi = bi.astype(np.int64)
    order = np.argsort(bi, kind="stable")
    sb = bi[order]
    first = np.concatenate(([True], sb[1:] != sb[:-1]))
    group_start = np.maximum.accumulate(np.where(first, np.arange(n), 0))
    rank = np.arange(n) - group_start  # 0-based rank within target bucket
    snap_free = buckets[sb] == 0  # (n, b) snapshot
    cum = np.cumsum(snap_free, axis=1)
    sel = snap_free & (cum == (rank + 1)[:, None])
    ok = sel.any(axis=1)
    slot = sel.argmax(axis=1)
    buckets[sb[ok], slot[ok]] = fp[order][ok]
    placed = np.zeros(n, dtype=bool)
    placed[order] = ok
    return placed
