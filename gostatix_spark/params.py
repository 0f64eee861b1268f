"""Sizing formulas — bit-for-bit compatible with the reference.

Reference: ``internal/util/base.go:19-30``, ``count_min_sketch.go:48-52``,
``base_hyperloglog.go:46-82``.
"""

from __future__ import annotations

import math

LN2 = math.log(2)


def bloom_filter_size(n: int, error_rate: float) -> int:
    """m = ceil(-n·ln(p) / ln(2)²)  — ``internal/util/base.go:19-21``."""
    return int(math.ceil(-(n * math.log(error_rate)) / (LN2 * LN2)))


def bloom_num_hashes(size: int, n: int) -> int:
    """k = ceil(floor(m/n)·ln2) — ``internal/util/base.go:23-25``.

    Quirk (SURVEY.md §1.3): the reference divides two uints *before*
    converting to float, so k derives from floor(m/n), not m/n.
    """
    return int(math.ceil(float(size // n) * LN2))


def cuckoo_fingerprint_length(size: int, error_rate: float) -> int:
    """Fingerprint length in *bytes* (here: decimal chars) —
    ``internal/util/base.go:27-30``: ceil(ceil(log2(1/ε)+log2(2·size))/8)."""
    v = math.ceil(math.log2(1 / error_rate) + math.log2(2 * size))
    return int(math.ceil(v / 8))


def cms_dims_from_estimates(error_rate: float, delta: float) -> tuple[int, int]:
    """(rows d, columns w) exactly as the reference computes them —
    ``count_min_sketch.go:48-52``: w = ceil(e/ε), d = ceil(ln(1/δ)).

    Quirk (SURVEY.md §1.6.4): reference callers pass δ as a *confidence*
    (e.g. 0.999), yielding depth 1. Kept verbatim for vector replay.
    """
    w = int(math.ceil(math.e / error_rate))
    d = int(math.ceil(math.log(1 / delta)))
    return d, w


def cms_dims_from_error_bounds(eps: float, fail_prob: float) -> tuple[int, int]:
    """Standard parameterization: ε·N overestimate bound with probability
    ≥ 1−fail_prob → w = ceil(e/ε), d = ceil(ln(1/fail_prob))."""
    w = int(math.ceil(math.e / eps))
    d = max(1, int(math.ceil(math.log(1 / fail_prob))))
    return d, w


def hll_alpha(m: int) -> float:
    """Bias-correction constant α — ``base_hyperloglog.go:70-82``."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_accuracy(m: int) -> float:
    """Advertised std error 1.04/√m — ``base_hyperloglog.go:66-68``."""
    return 1.04 / math.sqrt(m)


def is_power_of_two(x: int) -> bool:
    return x > 0 and (x & (x - 1)) == 0


def next_power_of_two(x: int) -> int:
    return 1 if x <= 1 else 1 << (x - 1).bit_length()
