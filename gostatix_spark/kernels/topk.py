"""Top-K kernel: CMS + candidate set.

The reference's Top-K (``top_k.go:62-134``) is a CMS plus a min-heap of
(element, CMS-estimated frequency) maintained per insert. Two kernels
live here:

* :class:`TopKStream` — exact replay of the reference's stream-order
  heap semantics (``top_k.go:95-113`` insert condition, remove-then-push
  dedup, pop-min overflow; ``Values()`` sort = count desc, element asc
  on ties, ``top_k.go:116-134``). Used for unit-vector replay and small
  driver-side queries; NOT the distributed hot path.

* :class:`Counts` and the merge functions — the distributed design
  (SURVEY.md §2.1 T5, §3.2): phase 1 keeps a CMS plus the *exact*
  per-partition top (k·slack) candidates; the final merge sums the CMS
  states, unions the candidate sets, re-estimates every candidate
  against the merged CMS and keeps the top k. The reference has no
  TopK.Merge — this is the documented distributed extension.
"""

from __future__ import annotations

import heapq

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from gostatix_spark import hashing
from gostatix_spark.kernels import cms


class TopKStream:
    """Reference-faithful single-node Top-K (stream order matters)."""

    def __init__(self, k: int, d: int, w: int):
        self.k = k
        self.matrix = cms.new_state(d, w)
        self.all_sum = 0
        self.heap: list[tuple[int, bytes]] = []  # (frequency, element) min-heap

    def insert(self, data: bytes, count: int = 1) -> None:
        if count <= 0:
            raise ValueError("count must be greater than zero")
        h1, h2 = hashing.hash_bytes_batch([data], "metro")
        self.all_sum += cms.update_batch(self.matrix, h1, h2,
                                         np.array([count], dtype=np.uint64))
        freq = int(cms.query_batch(self.matrix, h1, h2)[0])
        if len(self.heap) < self.k or freq >= self.heap[0][0]:
            idx = next((i for i, (_, e) in enumerate(self.heap) if e == data), -1)
            if idx > -1:
                self.heap[idx] = self.heap[-1]
                self.heap.pop()
                heapq.heapify(self.heap)
            heapq.heappush(self.heap, (freq, data))
            if len(self.heap) > self.k:
                heapq.heappop(self.heap)

    def values(self) -> list[tuple[bytes, int]]:
        """Top-k as (element, count), count desc then element asc."""
        return sorted(((e, f) for f, e in self.heap),
                      key=lambda t: (-t[1], t[0]))


# ---------------------------------------------------------------------------
# distributed (two-phase) pieces
# ---------------------------------------------------------------------------


# value span below which integers are counted by bincount, not sorted;
# agg's distinct-first fold applies the same rule
DENSE_SPAN = 1 << 22


class Counts:
    """Exact counts of one partition's elements, as a phase-1 partial
    needs them: the distinct values and their counts held in arrays
    (:class:`IntCounts` numpy, :class:`BytesCounts` Arrow), so Python
    touches only the k·slack candidates a partial ships. A subclass
    holds the arrays behind ``count`` (a batch's distinct values and
    counts), ``items`` (all of them), ``top`` (the byte-encoded top n)
    and ``_add``, ``_n_distinct``, ``_flush`` and ``_hash``.

    ``cap`` (``max_distinct``) bounds memory for near-unique columns
    (URLs, doc ids at 10⁹ rows): whenever the distinct count after an
    update exceeds it, the counts COMPACT — the top ``cap // 2`` values
    keep their exact counts, the tail is folded into the spill CMS (the
    matrix :meth:`finalize` seeds) and dropped. Memory stays O(cap)
    whatever the column's distinct count.

    Heavy-hitter correctness: a true heavy hitter's running count
    dominates every compaction's threshold once seen often enough, so
    it survives in the exact set (and if an early prefix of it was
    flushed, the final re-estimation against the merged CMS — which
    contains every flushed count — still reports it within the ε·N
    bound). What the cap costs is the ``exact=True`` read: a
    flushed-then-reappearing value's candidate count is no longer its
    full exact count, so a partial that compacted must be re-estimated
    through the CMS (``topk_values(exact=False)``, the reference
    semantics)."""

    __slots__ = ("element", "cap", "matrix", "flushed_total", "compactions")

    def __init__(self, element: str, cap: int | None = None, d: int = 0,
                 w: int = 0):
        if cap is not None and cap < 2:
            raise ValueError("max_distinct cap must be >= 2")
        self.element = element
        self.cap = cap
        self.matrix = None if cap is None else cms.new_state(d, w)
        self.flushed_total = 0
        self.compactions = 0

    def update(self, values) -> None:
        """Count a batch of raw values."""
        self.update_counts(*self.count(values))

    def update_counts(self, uniq, counts) -> None:
        """Add pre-counted values (``uniq`` distinct, ``counts`` > 0) —
        the same state :meth:`update` reaches from the raw values."""
        self._add(uniq, counts)
        if self.cap is not None and self._n_distinct() > self.cap:
            self.compactions += 1
            self.flushed_total += self._fold(self.matrix,
                                             *self._flush(self.cap // 2))

    def _fold(self, matrix: np.ndarray, uniq, counts: np.ndarray) -> int:
        """Add distinct values' counts to the CMS ``matrix``; returns
        their sum."""
        if len(uniq):
            h1, h2 = self._hash(uniq)
            cms.update_batch(matrix, h1, h2, counts.astype(np.uint64))
        return int(counts.sum())

    def finalize(self, k: int, slack: int, d: int, w: int):
        """(matrix, total, candidates) of the partial: a CMS over every
        count, seeded by the spill matrix so flushed and held counts
        land in ONE matrix, and the top k·slack values by exact count
        as byte-encoded candidates."""
        matrix = cms.new_state(d, w) if self.matrix is None else self.matrix
        total = self._fold(matrix, *self.items()) + self.flushed_total
        return matrix, total, dict(self.top(k * slack))


class IntCounts(Counts):
    """Integer elements (``tokens``, ``int32``, ``int64``): sorted
    (uniq, counts) numpy arrays merged with np.unique."""

    __slots__ = ("uniq", "counts")

    def __init__(self, element: str = "tokens", cap: int | None = None,
                 d: int = 0, w: int = 0):
        super().__init__(element, cap, d, w)
        self.uniq = np.zeros(0, dtype=np.int64)
        self.counts = np.zeros(0, dtype=np.int64)

    @staticmethod
    def count(values: np.ndarray):
        if len(values) == 0:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        vmin = int(values.min())
        vmax = int(values.max())
        if vmax - vmin < DENSE_SPAN:
            # dense domain (e.g. token vocab): bincount beats sort ~10×
            counts = np.bincount(values - vmin)
            nz = np.nonzero(counts)[0]
            return nz + vmin, counts[nz]
        return np.unique(values, return_counts=True)

    def _add(self, uniq: np.ndarray, counts: np.ndarray) -> None:
        if len(uniq) == 0:
            return
        u = np.concatenate([self.uniq, uniq])
        c = np.concatenate([self.counts, counts])
        uu, inv = np.unique(u, return_inverse=True)
        cc = np.zeros(len(uu), dtype=np.int64)
        np.add.at(cc, inv, c)
        self.uniq, self.counts = uu, cc

    def _n_distinct(self) -> int:
        return len(self.uniq)

    def items(self):
        return self.uniq, self.counts

    def _flush(self, keep: int):
        """Keep the top ``keep`` counts; returns the dropped ones."""
        keep_idx = np.argpartition(-self.counts, keep - 1)[:keep]
        flush = np.ones(len(self.uniq), dtype=bool)
        flush[keep_idx] = False
        out = self.uniq[flush], self.counts[flush]
        order = np.sort(keep_idx)  # keep uniq ascending (class invariant)
        self.uniq, self.counts = self.uniq[order], self.counts[order]
        return out

    def _hash(self, uniq: np.ndarray):
        if self.element == "int64":
            return hashing.hash_int64s(uniq, "metro")
        return hashing.hash_tokens(uniq, "metro")  # tokens / int32

    def top(self, n: int) -> list[tuple[bytes, int]]:
        """The top ``n`` (value, count), count desc, as the canonical
        bytes the hashing encodes: 4-byte big-endian tokens and int32s,
        8-byte big-endian int64s."""
        if len(self.uniq) <= n:
            order = np.argsort(-self.counts, kind="stable")
        else:
            part = np.argpartition(-self.counts, n)[:n]
            order = part[np.argsort(-self.counts[part], kind="stable")]
        vals = self.uniq[order[:n]]
        enc = (hashing.int64s_to_bytes_matrix(vals) if self.element == "int64"
               else hashing.tokens_to_bytes_matrix(vals))
        return [(e.tobytes(), int(c))
                for e, c in zip(enc, self.counts[order[:n]])]


class BytesCounts(Counts):
    """String, binary and ``token_array`` elements: Arrow
    (large_binary values, int64 counts) arrays. Each batch is counted
    by one ``value_counts`` and queued; the queue merges in one
    group-by only when the exact distinct count is needed — at
    :meth:`finalize`, or when the cheap upper bound (the merged values
    plus Σ queued distincts) passes the cap. Compaction and the
    candidates rank by (count desc, value asc) in one Arrow
    ``select_k``."""

    __slots__ = ("_chunks", "_bound")

    def __init__(self, element: str = "string", cap: int | None = None,
                 d: int = 0, w: int = 0):
        super().__init__(element, cap, d, w)
        self._chunks: list = []  # (values, counts) pairs
        self._bound = 0  # upper bound on the distinct count

    @staticmethod
    def count(values):
        vc = pc.value_counts(values)
        vals, counts = vc.field("values"), vc.field("counts")
        if vals.null_count:  # sketch inputs are null-filtered upstream
            ok = pc.is_valid(vals)
            vals, counts = vals.filter(ok), counts.filter(ok)
        return vals.cast(pa.large_binary()), counts

    def _add(self, uniq, counts) -> None:
        self._chunks.append((uniq, counts))
        self._bound += len(uniq)

    def _n_distinct(self) -> int:
        # the bound first: only past the cap is the group-by worth it
        return (self._bound if self._bound <= self.cap
                else len(self._merged()[0]))

    def _merged(self):
        """The queued chunks as one (values, counts) pair."""
        if len(self._chunks) != 1:
            tbl = pa.table({
                "v": pa.chunked_array([v for v, _ in self._chunks],
                                      pa.large_binary()),
                "c": pa.chunked_array([c for _, c in self._chunks],
                                      pa.int64())})
            agg = pa.TableGroupBy(tbl, "v").aggregate([("c", "sum")])
            self._chunks = [(agg["v"].combine_chunks(),
                             agg["c_sum"].combine_chunks())]
            self._bound = agg.num_rows
        return self._chunks[0]

    def items(self):
        vals, counts = self._merged()
        return vals, counts.to_numpy()

    def _ranked(self, n: int) -> pa.Array:
        """Indices of the top ``n``, count desc then value asc."""
        vals, counts = self._merged()
        return pc.select_k_unstable(pa.table({"v": vals, "c": counts}), n,
                                    [("c", "descending"), ("v", "ascending")])

    def _flush(self, keep: int):
        """Keep the top ``keep`` counts; returns the dropped ones."""
        vals, counts = self._merged()
        kept = self._ranked(keep)
        flush = np.ones(len(vals), dtype=bool)
        flush[kept.to_numpy()] = False
        self._chunks = [(vals.take(kept), counts.take(kept))]
        self._bound = keep
        flush = pa.array(flush)
        return vals.filter(flush), counts.filter(flush).to_numpy()

    def _hash(self, uniq):
        from gostatix_spark.state import binary_buffers
        return hashing.hash_var_bytes(*binary_buffers(uniq), "metro")

    def top(self, n: int) -> list[tuple[bytes, int]]:
        """The top ``n`` (value, count), count desc then value asc."""
        vals, counts = self._merged()
        idx = self._ranked(n)
        return list(zip(vals.take(idx).to_pylist(),
                        counts.take(idx).to_pylist()))


def partial_from_int_counts(ic: IntCounts, element: str, k: int, slack: int,
                            d: int, w: int):
    """The partial of integer counts ``ic`` under ``element``'s encoding
    (:meth:`Counts.finalize`), for callers that count by hand, such as
    ``perfbench/micro.py``."""
    ic.element = element
    return ic.finalize(k, slack, d, w)


def merge_candidates(a: dict[bytes, int], b: dict[bytes, int]) -> dict[bytes, int]:
    out = dict(a)
    for e, c in b.items():
        out[e] = out.get(e, 0) + c
    return out


def final_values(matrix: np.ndarray, candidates: dict[bytes, int], k: int,
                 exact: bool = False) -> list[tuple[bytes, int]]:
    """Re-estimate every candidate against the merged CMS (reference
    heap stores CMS estimates, not exact counts) and keep the top k,
    sorted (count desc, element asc) per ``top_k.go:116-134``.

    With ``exact=True`` the summed exact candidate counts are used
    instead — valid when the candidate slack guarantees the true top-k
    is contained (e.g. candidates = all distinct elements).
    """
    if not candidates:
        return []
    elems = list(candidates.keys())
    if exact:
        freqs = np.fromiter(candidates.values(), dtype=np.int64, count=len(elems))
    else:
        h1, h2 = hashing.hash_bytes_batch(elems, "metro")
        freqs = cms.query_batch(matrix, h1, h2).astype(np.int64)
    order = sorted(range(len(elems)), key=lambda i: (-int(freqs[i]), elems[i]))
    return [(elems[i], int(freqs[i])) for i in order[:k]]
