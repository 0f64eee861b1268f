"""Top-K kernel: CMS + candidate set.

The reference's Top-K (``top_k.go:62-134``) is a CMS plus a min-heap of
(element, CMS-estimated frequency) maintained per insert. Two kernels
live here:

* :class:`TopKStream` — exact replay of the reference's stream-order
  heap semantics (``top_k.go:95-113`` insert condition, remove-then-push
  dedup, pop-min overflow; ``Values()`` sort = count desc, element asc
  on ties, ``top_k.go:116-134``). Used for unit-vector replay and small
  driver-side queries; NOT the distributed hot path.

* batch/partial functions — the distributed design (SURVEY.md §2.1 T5,
  §3.2): phase 1 keeps a CMS plus the *exact* per-partition top
  (k·slack) candidates; the final merge sums the CMS states, unions the
  candidate sets, re-estimates every candidate against the merged CMS
  and keeps the top k. The reference has no TopK.Merge — this is the
  documented distributed extension.
"""

from __future__ import annotations

import heapq
from collections import Counter

import numpy as np

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


class IntCounts:
    """Vectorized exact counts for integer elements: sorted (uniq,
    counts) arrays merged with np.unique — no per-distinct Python."""

    __slots__ = ("uniq", "counts")

    def __init__(self):
        self.uniq = np.zeros(0, dtype=np.int64)
        self.counts = np.zeros(0, dtype=np.int64)

    def update(self, values: np.ndarray) -> None:
        if len(values) == 0:
            return
        vmin = int(values.min())
        vmax = int(values.max())
        if vmax - vmin < DENSE_SPAN:
            # dense domain (e.g. token vocab): bincount beats sort ~10×
            counts = np.bincount(values - vmin)
            nz = np.nonzero(counts)[0]
            u2, c2 = nz + vmin, counts[nz]
        else:
            u2, c2 = np.unique(values, return_counts=True)
        self.update_counts(u2, c2)

    def update_counts(self, uniq: np.ndarray, counts: np.ndarray) -> None:
        """Add pre-counted values (``uniq`` distinct, ``counts`` > 0) —
        the same state :meth:`update` reaches from the raw values."""
        if len(uniq) == 0:
            return
        u = np.concatenate([self.uniq, uniq])
        c = np.concatenate([self.counts, counts])
        uu, inv = np.unique(u, return_inverse=True)
        cc = np.zeros(len(uu), dtype=np.int64)
        np.add.at(cc, inv, c)
        self.uniq, self.counts = uu, cc

    def top(self, n: int) -> list[tuple[int, int]]:
        if len(self.uniq) <= n:
            order = np.argsort(-self.counts, kind="stable")
        else:
            part = np.argpartition(-self.counts, n)[:n]
            order = part[np.argsort(-self.counts[part], kind="stable")]
        return [(int(self.uniq[i]), int(self.counts[i])) for i in order[:n]]


class BytesCounts:
    """Vectorized exact counts for string/binary elements. Each Arrow
    batch is counted in one C++ ``pyarrow.compute.value_counts`` call
    (dictionary-encode + bincount under the hood) and the per-batch
    (values, counts) pair is QUEUED; the cross-batch merge happens in
    one C++ ``TableGroupBy('v').sum('c')`` when the dict is first
    needed. Python therefore touches each distinct value ONCE per
    partition (building the final dict), never once per batch — the
    hot loop is entirely Arrow. Drop-in for the ``Counter`` interface
    :func:`partial_from_counter` consumes
    (``keys``/``values``/``most_common``)."""

    __slots__ = ("_base", "_chunks", "_nd_hint")

    def __init__(self):
        self._base: dict[bytes, int] = {}
        # per-batch value_counts awaiting the single C++ merge:
        # (large_binary values Array, int64 counts Array)
        self._chunks: list = []
        # len(_base) + Σ per-chunk distincts — an UPPER bound on the
        # true distinct count, refreshed to exact on materialization
        self._nd_hint = 0

    def update(self, values) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc
        if isinstance(values, (pa.Array, pa.ChunkedArray)):
            vc = pc.value_counts(values)
            vals = vc.field("values")
            counts = vc.field("counts")
            if vals.null_count:  # sketch inputs are null-filtered upstream
                ok = pc.is_valid(vals)
                vals, counts = vals.filter(ok), counts.filter(ok)
            if not pa.types.is_large_binary(vals.type):
                vals = pc.cast(vals, pa.large_binary())
            self._chunks.append((vals, counts))
            self._nd_hint += len(vals)
        else:  # list[bytes] fallback (driver-side probes, tests)
            d = self.d  # materializes pending chunks first
            for v in values:
                d[v] = d.get(v, 0) + 1
            self._nd_hint = len(d)

    def n_distinct_bound(self) -> int:
        """Cheap upper bound on the distinct count — exact whenever no
        batches are pending. Lets a capped accumulator defer the
        expensive materialization until the bound crosses its cap."""
        return self._nd_hint

    @property
    def d(self) -> dict[bytes, int]:
        if self._chunks:
            import pyarrow as pa
            tbl = pa.table({
                "v": pa.chunked_array([v for v, _ in self._chunks]),
                "c": pa.chunked_array([c for _, c in self._chunks]),
            })
            agg = pa.TableGroupBy(tbl, "v").aggregate([("c", "sum")])
            vs = agg.column("v").to_pylist()
            cs = agg.column("c_sum").to_numpy(zero_copy_only=False)
            base = self._base
            if base:
                for v, c in zip(vs, cs):
                    base[v] = base.get(v, 0) + int(c)
            else:
                self._base = base = dict(zip(vs, (int(c) for c in cs)))
            self._chunks = []
            self._nd_hint = len(base)
        return self._base

    @d.setter
    def d(self, value: dict[bytes, int]) -> None:
        self._base = value
        self._chunks = []
        self._nd_hint = len(value)

    # Counter-compatible surface
    def keys(self):
        return self.d.keys()

    def values(self):
        return self.d.values()

    def most_common(self, n: int | None = None):
        items = sorted(self.d.items(), key=lambda t: (-t[1], t[0]))
        return items if n is None else items[:n]


def _hash_int_elems(uniq: np.ndarray, element: str):
    from gostatix_spark import hashing
    if element == "int64":
        return hashing.hash_int64s(uniq, "metro")
    return hashing.hash_tokens(uniq, "metro")  # tokens / int32


class CappedCounts:
    """Phase-1 memory bound for near-unique element columns (URLs, doc
    ids at 10⁹ rows): wraps :class:`IntCounts` / :class:`BytesCounts`
    and, whenever the tracked-distinct count crosses ``cap``, COMPACTS —
    the current top ``cap//2`` elements keep their exact counts, the
    tail is flushed into the partial's CMS (the same matrix the
    finalize step seeds) and dropped. Per-partition memory is thereby
    O(cap), independent of the column's distinct count.

    Heavy-hitter correctness: a true heavy hitter's running count
    dominates every compaction's threshold once seen often enough, so
    it survives in the exact set (and if an early prefix of it was
    flushed, the final re-estimation against the merged CMS — which
    contains every flushed count — still reports it within the ε·N
    bound). What the cap costs is the ``exact=True`` fast path: a
    flushed-then-reappearing element's candidate count is no longer
    its full exact count, so capped builds must re-estimate through
    the CMS (``topk_values(exact=False)``, the reference semantics)."""

    __slots__ = ("inner", "cap", "keep", "element", "matrix",
                 "flushed_total", "compactions")

    def __init__(self, inner, cap: int, element: str, d: int, w: int):
        if cap < 2:
            raise ValueError("max_distinct cap must be >= 2")
        self.inner = inner
        self.cap = cap
        self.keep = max(1, cap // 2)
        self.element = element
        self.matrix = cms.new_state(d, w)
        self.flushed_total = 0
        self.compactions = 0

    def _n_distinct(self) -> int:
        if isinstance(self.inner, IntCounts):
            return len(self.inner.uniq)
        # cheap upper bound first: only when it crosses the cap is the
        # exact count (which materializes pending Arrow chunks) worth it
        bound = self.inner.n_distinct_bound()
        return bound if bound <= self.cap else len(self.inner.d)

    def update(self, values) -> None:
        self.inner.update(values)
        if self._n_distinct() > self.cap:
            self._compact()

    def update_counts(self, uniq: np.ndarray, counts: np.ndarray) -> None:
        self.inner.update_counts(uniq, counts)  # IntCounts inner only
        if self._n_distinct() > self.cap:
            self._compact()

    def _compact(self) -> None:
        self.compactions += 1
        if isinstance(self.inner, IntCounts):
            ic = self.inner
            keep_idx = np.argpartition(-ic.counts, self.keep - 1)[:self.keep]
            flush = np.ones(len(ic.uniq), dtype=bool)
            flush[keep_idx] = False
            h1, h2 = _hash_int_elems(ic.uniq[flush], self.element)
            fc = ic.counts[flush]
            cms.update_batch(self.matrix, h1, h2, fc.astype(np.uint64))
            self.flushed_total += int(fc.sum())
            order = np.sort(keep_idx)  # keep uniq ascending (class invariant)
            ic.uniq, ic.counts = ic.uniq[order], ic.counts[order]
        else:
            bc = self.inner
            survivors = dict(bc.most_common(self.keep))
            flushed = [(e, c) for e, c in bc.d.items() if e not in survivors]
            if flushed:
                from gostatix_spark import hashing
                elems = [e for e, _ in flushed]
                counts = np.fromiter((c for _, c in flushed),
                                     dtype=np.uint64, count=len(flushed))
                h1, h2 = hashing.hash_bytes_batch(elems, "metro")
                cms.update_batch(self.matrix, h1, h2, counts)
                self.flushed_total += int(counts.sum())
            bc.d = survivors

    def finalize(self, k: int, slack: int, d: int, w: int):
        """(matrix, total, candidates) with the spill matrix as the
        CMS seed — flushed counts and surviving exact counts land in
        ONE matrix, so the partial's CMS still counts every element."""
        if isinstance(self.inner, IntCounts):
            mat, total, cand = partial_from_int_counts(
                self.inner, self.element, k, slack, d, w,
                matrix=self.matrix)
        else:
            mat, total, cand = partial_from_counter(
                self.inner, k, slack, d, w, matrix=self.matrix)
        return mat, total + self.flushed_total, cand


def partial_from_int_counts(ic: IntCounts, element: str, k: int, slack: int,
                            d: int, w: int, matrix: np.ndarray | None = None):
    """Phase-1 finalize for integer elements: CMS update over ALL
    distinct values (hashed vectorized under the canonical encoding —
    no bytes round-trip) + top k·slack exact candidates as bytes.
    ``matrix`` seeds the CMS (a capped accumulator's spill matrix)."""
    from gostatix_spark.agg import encode_candidate

    if matrix is None:
        matrix = cms.new_state(d, w)
    total = int(ic.counts.sum())
    if len(ic.uniq):
        h1, h2 = _hash_int_elems(ic.uniq, element)
        cms.update_batch(matrix, h1, h2, ic.counts.astype(np.uint64))
    cand = {encode_candidate(v, element): c for v, c in ic.top(k * slack)}
    return matrix, total, cand


def partial_from_counter(counter: Counter, k: int, slack: int,
                         d: int, w: int, matrix: np.ndarray | None = None
                         ) -> tuple[np.ndarray, int, dict[bytes, int]]:
    """Build a partition-local partial: CMS over the exact counts plus
    the top k·slack elements by exact local count as candidates."""
    if matrix is None:
        matrix = cms.new_state(d, w)
    elems = list(counter.keys())
    counts = np.fromiter(counter.values(), dtype=np.uint64, count=len(elems))
    if elems:
        h1, h2 = hashing.hash_bytes_batch(elems, "metro")
        cms.update_batch(matrix, h1, h2, counts)
    top = counter.most_common(k * slack)
    return matrix, int(counts.sum()), dict(top)


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
