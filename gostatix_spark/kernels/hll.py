"""HyperLogLog kernel (numpy).

Semantics: standard Flajolet HLL index/rank split — **a documented,
intentional divergence** from the reference's swapped index/rank quirk
(``base_hyperloglog.go:84-90``; SURVEY.md §1.6.1 policy). Everything
else mirrors the reference: α table and harmonic-mean estimator
(``hyperloglog.go:67-76``), large-range correction
(``base_hyperloglog.go:92-102``), merge = registerwise max
(``hyperloglog.go:79-87``), power-of-two register count
(``base_hyperloglog.go:50-52``).
"""

from __future__ import annotations

import math

import numpy as np

from gostatix_spark.params import hll_alpha, is_power_of_two

U64 = np.uint64

TWO_POW_32 = 2.0**32


def new_state(m: int) -> np.ndarray:
    if not is_power_of_two(m):
        raise ValueError(f"hll register count {m} not a power of two")
    return np.zeros(m, dtype=np.uint8)


def reset(registers: np.ndarray) -> None:
    """H5 Reset (``hyperloglog.go`` Reset): zero every register in
    place — a reset sketch is indistinguishable from a fresh one."""
    registers.fill(0)


def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for uint64 (exact, no float round-trip)."""
    x = x.copy()
    r = np.zeros(x.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        big = x >= (U64(1) << U64(s))
        r[big] += s
        x[big] >>= U64(s)
    return r + (x > 0)


def index_and_rank(h1: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray]:
    """Standard HLL mapping: index = top log2(m) bits of h1; rank = 1 +
    leading zeros of the remaining 64−b bits (clamped)."""
    b = int(math.log2(m))
    idx = (h1 >> U64(64 - b)).astype(np.int64)
    rest = h1 << U64(b)  # remaining bits moved to the top
    # leading zeros within the 64-bit window of `rest`
    rank = 64 - _bit_length_u64(rest) + 1
    np.minimum(rank, 64 - b + 1, out=rank)  # rest==0 ⇒ all 64−b bits zero
    return idx, rank.astype(np.uint8)


_CHUNK = 1 << 17


def update_batch(registers: np.ndarray, h1: np.ndarray) -> None:
    """reg[idx] = max(reg[idx], rank) for a whole hash batch
    (vectorized analog of ``hyperloglog.go:56-62``), cache-chunked."""
    for s in range(0, len(h1), _CHUNK):
        idx, rank = index_and_rank(h1[s:s + _CHUNK], len(registers))
        np.maximum.at(registers, idx, rank)


class KeyedHLL:
    """Many HLLs updated in ONE vectorized pass — for fine-grained keys
    (e.g. sketch per (source, hour)) where a python loop per key per
    Arrow batch would dominate. All keys' registers live in one
    (n_slots, m) uint8 matrix; a batch update is a single
    ``np.maximum.at`` on the flattened buffer with composite indices
    ``slot·m + idx``."""

    def __init__(self, m: int):
        self.m = m
        self.slots: dict = {}
        self.mat = np.zeros((0, m), dtype=np.uint8)
        self.counts = np.zeros(0, np.int64)  # items folded per slot

    def _slot(self, key) -> int:
        s = self.slots.get(key)
        if s is None:
            s = len(self.slots)
            self.slots[key] = s
            if s >= len(self.mat):
                grow = max(64, len(self.mat))
                self.mat = np.vstack(
                    [self.mat, np.zeros((grow, self.m), np.uint8)])
                self.counts = np.append(self.counts, np.zeros(grow, np.int64))
        return s

    def update(self, keys_unique, codes: np.ndarray, h1: np.ndarray) -> None:
        """``codes[i]`` indexes ``keys_unique`` for element i."""
        slot_of_code = np.array([self._slot(k) for k in keys_unique],
                                dtype=np.int64)
        slots = slot_of_code[codes]
        idx, rank = index_and_rank(h1, self.m)
        flat = self.mat.reshape(-1)
        for s in range(0, len(h1), _CHUNK):
            e = s + _CHUNK
            np.maximum.at(flat, slots[s:e] * self.m + idx[s:e], rank[s:e])
        self.counts += np.bincount(slots, minlength=len(self.mat))

    @property
    def n_items(self) -> dict:
        """Items folded per key, for the keys that folded any."""
        return {k: int(self.counts[s]) for k, s in self.slots.items()
                if self.counts[s]}

    def states(self):
        """Yields (key, registers_copy, n_items)."""
        for k, s in self.slots.items():
            yield k, self.mat[s].copy(), int(self.counts[s])


def merge(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Registerwise max — associative, commutative, idempotent
    (``hyperloglog.go:79-87``)."""
    if a.shape != b.shape:
        raise ValueError("cannot merge HLLs with different register counts")
    return np.maximum(a, b)


# registers per count_many block: bounds its temporaries
COUNT_BLOCK = 1 << 18


def count(registers: np.ndarray, with_correction: bool = True,
          with_rounding: bool = True, linear_counting: bool = True) -> int:
    """Cardinality estimate of one register array: a one-row
    :func:`count_many`."""
    return int(count_many(registers[None, :], with_correction,
                          with_rounding, linear_counting)[0])


def count_many(regs: np.ndarray, with_correction: bool = True,
               with_rounding: bool = True,
               linear_counting: bool = True) -> np.ndarray:
    """Cardinality estimates of a (n_sketches, m) register stack in one
    numpy pass — α·m²/Σ2^(−reg) with the reference's large-range
    correction (``hyperloglog.go:67-76``, ``base_hyperloglog.go:92-102``).
    ``linear_counting`` adds the standard Flajolet small-range
    correction (absent in the reference — documented extension,
    SURVEY.md §1.6.1): without it raw HLL overestimates for n ≲ 2.5·m
    and the published 1.04/√m bound the north rule gates on does not
    hold in that regime. Pass ``linear_counting=False`` for
    reference-shell fidelity. A sketch whose corrected estimate is
    undefined (raw estimate ≥ 2³², the correction's log domain) is
    saturated and reads −1, as ``query.bloom_cardinality`` does."""
    m = regs.shape[1]
    harmonic = np.empty(len(regs))
    zeros = np.empty(len(regs), np.int64)
    step = max(1, COUNT_BLOCK // m)
    for s in range(0, len(regs), step):
        block = regs[s:s + step]
        harmonic[s:s + step] = np.ldexp(
            1.0, np.negative(block, dtype=np.int32)).sum(axis=1)
        zeros[s:s + step] = (block == 0).sum(axis=1)
    est = hll_alpha(m) * m * m / harmonic
    if linear_counting:
        small = (est <= 2.5 * m) & (zeros > 0)
        if small.any():
            est[small] = m * np.log(m / zeros[small])
    if with_correction:
        saturated = est >= TWO_POW_32
        large = (est > TWO_POW_32 / 30) & ~saturated
        if large.any():
            est[large] = -TWO_POW_32 * np.log1p(-est[large] / TWO_POW_32)
        est[saturated] = -1
    return (np.rint(est) if with_rounding else np.trunc(est)).astype(np.int64)
