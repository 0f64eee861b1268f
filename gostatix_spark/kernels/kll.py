"""KLL sketch kernel (numpy) — mergeable rank/quantile sketch.

Not in the reference; required by the target rule's sketch set
(BASELINE.json north_rule). Implements the KLL algorithm of Karnin,
Lang & Liberty ("Optimal quantile approximation in streams", FOCS 2016,
public): a hierarchy of compactors; level h holds items each
representing 2^h originals; when a level overflows its capacity
``k·c^(H−h)`` (c = 2/3), it sorts, keeps a random odd/even half, and
promotes it to level h+1. Rank error is ε ≈ O(1/k) with high
probability; tests gate rank error against exact quantiles.

Determinism: the odd/even coin is drawn from a seeded per-compaction
Generator keyed by (seed, level, compaction counter) so a given build
is reproducible; like t-digest, byte equality across different
partition orders is NOT guaranteed (documented — rank accuracy is the
invariant, matching the KLL guarantee).
"""

from __future__ import annotations

import struct

import numpy as np

from gostatix_spark.state import frame, read_frame

_LEVEL = struct.Struct("<I")  # a level's item count in the GSKL frame
K_DEFAULT = 200
C = 2.0 / 3.0


class KLL:
    __slots__ = ("k", "levels", "n", "seed", "_compactions")

    def __init__(self, k: int = K_DEFAULT, seed: int = 42):
        self.k = int(k)
        self.levels: list[np.ndarray] = [np.zeros(0, np.float64)]
        self.n = 0
        self.seed = seed
        self._compactions = 0

    def _cap(self, h: int) -> int:
        height = len(self.levels)
        return max(2, int(np.ceil(self.k * C ** (height - 1 - h))))

    def update_batch(self, values: np.ndarray) -> None:
        v = np.asarray(values, np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return
        self.n += len(v)
        self.levels[0] = np.concatenate([self.levels[0], v])
        self._compact_all()

    def _compact_all(self) -> None:
        h = 0
        while h < len(self.levels):
            if len(self.levels[h]) > self._cap(h):
                if h + 1 == len(self.levels):
                    self.levels.append(np.zeros(0, np.float64))
                buf = np.sort(self.levels[h], kind="stable")
                rng = np.random.default_rng(
                    (self.seed * 1_000_003 + h) ^ self._compactions)
                self._compactions += 1
                off = int(rng.integers(0, 2))
                promoted = buf[off::2]
                self.levels[h] = np.zeros(0, np.float64)
                self.levels[h + 1] = np.concatenate(
                    [self.levels[h + 1], promoted])
            h += 1

    def merge(self, other: "KLL") -> "KLL":
        out = KLL(self.k, self.seed)
        out.n = self.n + other.n
        out._compactions = self._compactions + other._compactions + 1
        height = max(len(self.levels), len(other.levels))
        out.levels = []
        for h in range(height):
            a = self.levels[h] if h < len(self.levels) else np.zeros(0)
            b = other.levels[h] if h < len(other.levels) else np.zeros(0)
            out.levels.append(np.concatenate([a, b]).astype(np.float64))
        out._compact_all()
        return out

    def quantile(self, q) -> np.ndarray:
        qs = np.atleast_1d(np.asarray(q, np.float64))
        items = []
        weights = []
        for h, lv in enumerate(self.levels):
            if len(lv):
                items.append(lv)
                weights.append(np.full(len(lv), 2.0 ** h))
        if not items:
            return np.full(len(qs), np.nan)
        x = np.concatenate(items)
        w = np.concatenate(weights)
        order = np.argsort(x, kind="stable")
        x, w = x[order], w[order]
        cum = np.cumsum(w) - w / 2
        return np.interp(qs * w.sum(), cum, x, left=x[0], right=x[-1])

    def rank(self, value: float) -> float:
        """Estimated fraction of items ≤ value."""
        total = 0.0
        below = 0.0
        for h, lv in enumerate(self.levels):
            wgt = 2.0 ** h
            total += wgt * len(lv)
            below += wgt * int((lv <= value).sum())
        return below / total if total else float("nan")

    # -- codec: the GSKL frame that state.FRAMES describes -----------------

    def to_bytes(self) -> bytes:
        out = [frame("kll", 1, self.k, self.n, self.seed, len(self.levels))]
        for lv in self.levels:
            out += (_LEVEL.pack(len(lv)), lv.tobytes())
        return b"".join(out)

    @classmethod
    def from_bytes(cls, buf: bytes) -> "KLL":
        h, body = read_frame(buf, "kll")
        out = cls(h.k, h.seed)
        out.n = h.n
        out.levels = [body.array("<f8", *body.unpack(_LEVEL, "level"), "level")
                      for _ in range(h.n_levels)]
        body.end(f"{h.n_levels} levels")
        return out
