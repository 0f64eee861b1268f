"""t-digest kernel (numpy) — mergeable quantile sketch.

Not in the reference (gostatix has no quantile sketch); required by the
target rule's sketch set (BASELINE.json north_rule: "HLL, count-min,
t-digest, KLL, Bloom"). Implements the *merging* t-digest of Dunning &
Ertl ("Computing extremely accurate quantiles using t-digests", 2019,
public): centroids (mean, weight) kept in mean order; a merge pass
bounds each centroid's weight by the k1 scale function
``k(q) = δ/(2π)·asin(2q−1)``, which concentrates resolution at the
tails (relative error ~ q(1−q)).

Merge = concatenate centroid lists + one compress pass — associative
enough for two-phase aggregation (the digest is order-insensitive up to
its accuracy guarantee; tests gate quantile error vs exact, not byte
equality, since t-digest is NOT byte-deterministic under re-ordering —
documented divergence from the byte-invariant sketches).

State: float64 arrays (means, weights), the item count and δ,
serialized as the ``GSKQ`` frame that ``state.FRAMES`` describes.
"""

from __future__ import annotations

import numpy as np

from gostatix_spark.state import frame, read_frame

DELTA_DEFAULT = 200.0


def new_state() -> tuple[np.ndarray, np.ndarray]:
    return np.zeros(0, np.float64), np.zeros(0, np.float64)


def _k_limits(total: float, delta: float, cum: np.ndarray) -> np.ndarray:
    """k1 scale: max allowed cumulative weight to stay in one centroid."""
    q = cum / total
    k = delta / (2 * np.pi) * np.arcsin(2 * np.clip(q, 0, 1) - 1)
    return k


def compress(means: np.ndarray, weights: np.ndarray,
             delta: float = DELTA_DEFAULT) -> tuple[np.ndarray, np.ndarray]:
    """One merge pass: greedily coalesce mean-ordered centroids while the
    k-scale budget allows. Vectorized grouping via the k-index floor."""
    if len(means) == 0:
        return means, weights
    order = np.argsort(means, kind="stable")
    m, w = means[order], weights[order]
    total = w.sum()
    # cumulative weight *before* each centroid
    cum = np.concatenate(([0.0], np.cumsum(w)[:-1]))
    k = _k_limits(total, delta, cum + w / 2)
    # group id: floor of k-index; centroids in the same k-cell merge
    gid = np.floor(k).astype(np.int64)
    # force group boundaries to be monotone non-decreasing
    gid = np.maximum.accumulate(gid)
    _, inv = np.unique(gid, return_inverse=True)
    n_g = inv.max() + 1
    gw = np.zeros(n_g, np.float64)
    gm = np.zeros(n_g, np.float64)
    np.add.at(gw, inv, w)
    np.add.at(gm, inv, m * w)
    return gm / gw, gw


def update_batch(means: np.ndarray, weights: np.ndarray, values: np.ndarray,
                 delta: float = DELTA_DEFAULT):
    """Fold a value batch: histogram the batch into provisional
    centroids (sorted unique-ish via quantile binning) then compress
    together with the existing centroids."""
    v = np.asarray(values, np.float64)
    v = v[~np.isnan(v)]
    if len(v) == 0:
        return means, weights
    m = np.concatenate([means, v])
    w = np.concatenate([weights, np.ones(len(v))])
    return compress(m, w, delta)


def merge(a: tuple[np.ndarray, np.ndarray], b: tuple[np.ndarray, np.ndarray],
          delta: float = DELTA_DEFAULT) -> tuple[np.ndarray, np.ndarray]:
    return compress(np.concatenate([a[0], b[0]]),
                    np.concatenate([a[1], b[1]]), delta)


def quantile(means: np.ndarray, weights: np.ndarray, q) -> np.ndarray:
    """Interpolated quantile(s) from the centroid CDF."""
    qs = np.atleast_1d(np.asarray(q, np.float64))
    if len(means) == 0:
        return np.full(len(qs), np.nan)
    order = np.argsort(means, kind="stable")
    m, w = means[order], weights[order]
    total = w.sum()
    # centroid midpoints in cumulative-weight space
    cum = np.cumsum(w) - w / 2
    targets = qs * total
    out = np.interp(targets, cum, m, left=m[0], right=m[-1])
    return out


def to_bytes(means: np.ndarray, weights: np.ndarray, n_items: int,
             delta: float = DELTA_DEFAULT) -> bytes:
    """The ``GSKQ`` frame of a digest (``state.FRAMES``)."""
    return (frame("tdigest", 1, delta, n_items, len(means))
            + means.tobytes() + weights.tobytes())


def from_bytes(buf: bytes):
    """``(means, weights, n_items, delta)`` of a ``GSKQ`` frame."""
    h, body = read_frame(buf, "tdigest")
    means, weights = body.dense(h).reshape(2, -1)
    return means, weights, h.n_items, h.delta
