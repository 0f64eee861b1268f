"""Two-phase distributed sketch aggregation — the heart of the library.

Topology (SURVEY.md §3, §4.2):

* **Phase 1 (partial)** — ``DataFrame.mapInArrow``: each input partition
  streams through as Arrow record batches; a numpy kernel folds every
  batch into a per-(partition, key) sketch state. Output: ONE tiny row
  per partition per key ``(key, state binary, n_items, partition_id,
  rows_consumed)``. This is map-side combine: whatever the row/key skew
  of the input, the shuffle that follows carries only
  ``O(num_partitions × num_keys)`` sketch-sized rows — skew-immune by
  construction.
* **Phase 2 (merge)** — ``groupBy(key).applyInPandas``: decode partial
  states, fold with the sketch's merge law (max for HLL, add for CMS,
  OR for Bloom; proven associative/commutative in tests), emit one row
  per key. For very wide fan-in an optional intermediate tree level
  merges ``partition_id % tree_fanout`` groups first — merge
  associativity makes the tree shape irrelevant to the result.

The cuckoo filter is NOT mergeable (order-dependent kick loop,
``cuckoo_filter.go:74-115``) — see :func:`cuckoo_build`: phase 1 only
*hashes* elements (pure, parallel, vectorized), then elements shuffle to
their (key, shard) and a single task per shard runs the sequential
kernel. Sharding is the scale path: membership routes to the owning
shard by the same hash, so N shards build and probe in parallel.

Element extraction is Arrow-native: list columns are flattened via
offset arithmetic (zero-copy), strings/binaries hashed through
length-grouped fixed-width matrices. No per-row Python anywhere.
Integer elements (``tokens``/``int32``) feeding HLL, CMS, Bloom or
Top-K are reduced per batch to distinct (key, value) pairs with counts
first, so hashing and folding cost O(distinct), not O(elements).
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (BinaryType, BooleanType, IntegerType, LongType,
                               StringType, StructField, StructType)

from gostatix_spark import hashing, params
from gostatix_spark.kernels import bloom, cms, cuckoo, hll, kll, tdigest, topk
from gostatix_spark.state import (BloomState, CMSState, CuckooState, HLLState,
                                  TopKState, sketch_from_bytes)

__all__ = ["sketch_agg", "multi_sketch_agg", "cuckoo_build",
           "cuckoo_apply_removals", "bloom_build_sharded",
           "merge_sketch_states"]


# ---------------------------------------------------------------------------
# Arrow extraction helpers
# ---------------------------------------------------------------------------


def _arrow_var_bytes(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(flat uint8 values, int64 offsets) for a string/binary Arrow array."""
    if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type):
        arr = arr.cast(pa.binary())
    elif pa.types.is_string(arr.type):
        arr = arr.cast(pa.binary())
    # null-free assumption: sketch inputs are filtered upstream
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    data_buf = arr.buffers()[2]
    values = (np.frombuffer(data_buf, dtype=np.uint8)
              if data_buf is not None else np.zeros(0, np.uint8))
    return values, offsets


def _arrow_list_ints(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(flat int values, int64 offsets) for a list<int> Arrow array."""
    lengths = pa.compute.list_value_length(arr).to_numpy(zero_copy_only=False)
    lengths = np.nan_to_num(lengths, nan=0).astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    values = arr.flatten().to_numpy(zero_copy_only=False)
    return values, offsets


def extract_hashes(arr: pa.Array, element: str, algo: str):
    """Hash every element of an Arrow column under the canonical
    encodings (SURVEY.md §1.1). Returns (h1, h2, row_of_element) where
    ``row_of_element`` maps each hashed element back to its source row
    (identity except for ``element='tokens'`` which flattens arrays)."""
    n = len(arr)
    ident = None  # identity row map
    if element == "tokens":
        values, offsets = _arrow_list_ints(arr)
        h1, h2 = hashing.hash_tokens(values.astype(np.int64), algo)
        row = np.repeat(np.arange(n), np.diff(offsets))
        return h1, h2, row
    if element == "token_array":
        values, offsets = _arrow_list_ints(arr)
        h1, h2 = hashing.hash_token_arrays(values.astype(np.int64), offsets, algo)
        return h1, h2, ident
    if element == "int64":
        vals = arr.to_numpy(zero_copy_only=False).astype(np.int64)
        h1, h2 = hashing.hash_int64s(vals, algo)
        return h1, h2, ident
    if element == "int32":
        vals = arr.to_numpy(zero_copy_only=False).astype(np.int64)
        h1, h2 = hashing.hash_tokens(vals, algo)
        return h1, h2, ident
    if element in ("string", "binary"):
        values, offsets = _arrow_var_bytes(arr)
        h1, h2 = hashing.hash_var_bytes(values, offsets, algo)
        return h1, h2, ident
    raise ValueError(f"unknown element kind {element!r}")


def element_values(arr: pa.Array, element: str):
    """Raw element values for exact counting (Top-K candidates): a flat
    int numpy array for int-like kinds (vectorized ``np.unique``
    counting), else the canonical per-row byte encodings."""
    if element == "tokens":
        values, _ = _arrow_list_ints(arr)
        return values.astype(np.int64)
    if element in ("int32", "int64"):
        return arr.to_numpy(zero_copy_only=False).astype(np.int64)
    if element == "float64":
        return arr.to_numpy(zero_copy_only=False).astype(np.float64)
    if element in ("string", "binary"):
        # returned as the Arrow array itself: BytesCounts counts it with
        # one C++ value_counts call per batch — no per-element Python
        return arr
    return element_bytes(arr, element)


def encode_candidate(key, element: str) -> bytes:
    """Canonical byte encoding of a counted candidate — must match the
    hashing encodings so merged-CMS re-queries hit the same cells."""
    if element in ("tokens", "int32"):
        return (int(key) & 0xFFFFFFFF).to_bytes(4, "big")
    if element == "int64":
        return int(key).to_bytes(8, "big", signed=True)
    return key  # already bytes


def element_bytes(arr: pa.Array, element: str) -> list[bytes]:
    """Canonical byte encoding of each row's element (row-level kinds
    only) — used by Top-K candidates and driver-side probes."""
    if element == "int64":
        vals = arr.to_numpy(zero_copy_only=False).astype(">i8")
        b = vals.tobytes()
        return [b[i * 8:(i + 1) * 8] for i in range(len(vals))]
    if element == "int32":
        vals = arr.to_numpy(zero_copy_only=False).astype(">i4")
        b = vals.tobytes()
        return [b[i * 4:(i + 1) * 4] for i in range(len(vals))]
    if element in ("string", "binary"):
        values, offsets = _arrow_var_bytes(arr)
        buf = values.tobytes()
        return [buf[offsets[i]:offsets[i + 1]] for i in range(len(arr))]
    if element == "token_array":
        values, offsets = _arrow_list_ints(arr)
        b = values.astype(">u4").tobytes()
        return [b[offsets[i] * 4:offsets[i + 1] * 4] for i in range(len(arr))]
    raise ValueError(f"element kind {element!r} has no row-level bytes")


def _select_elems(elems, sel: np.ndarray):
    """Group-select from whatever :func:`element_values` returned:
    numpy fancy-index, Arrow take (string/binary — stays in C++), or a
    Python-list gather (token_array rows)."""
    if isinstance(elems, np.ndarray):
        return elems[sel]
    if isinstance(elems, (pa.Array, pa.ChunkedArray)):
        return elems.take(pa.array(sel, type=pa.int64()))
    return [elems[i] for i in sel]


def infer_element(df: DataFrame, value_col: str, element: str | None) -> str:
    if element is not None:
        return element
    dt = dict(df.dtypes)[value_col]
    if dt.startswith("array<"):
        return "tokens"
    if dt in ("bigint", "long"):
        return "int64"
    if dt == "int":
        return "int32"
    if dt == "string":
        return "string"
    if dt == "binary":
        return "binary"
    if dt in ("double", "float", "decimal"):
        return "float64"
    raise ValueError(f"cannot infer element kind for column type {dt}")


# ---------------------------------------------------------------------------
# sketch specs
# ---------------------------------------------------------------------------


class _Spec:
    """Per-kind plumbing: init/update/final for phase 1, merge for phase 2."""

    def __init__(self, kind: str, algo: str, p: dict):
        self.kind = kind
        self.algo = algo
        self.p = p

    @staticmethod
    def make(kind: str, **p) -> "_Spec":
        if kind == "hll":
            m = p.get("m", 16384)
            if not params.is_power_of_two(m):
                raise ValueError("hll m must be a power of two")
            return _Spec(kind, "metro", {"m": m})
        if kind == "cms":
            if "d" in p:
                d, w = p["d"], p["w"]
            elif "fail_prob" in p:
                d, w = params.cms_dims_from_error_bounds(p.get("eps", 0.001),
                                                         p["fail_prob"])
            else:
                d, w = params.cms_dims_from_estimates(p.get("eps", 0.001),
                                                      p.get("delta", 0.999))
            return _Spec(kind, "metro", {"d": d, "w": w})
        if kind == "bloom":
            if "m" in p:
                m, k = p["m"], p["k"]
            else:
                m = params.bloom_filter_size(p["n"], p.get("eps", 0.01))
                k = params.bloom_num_hashes(m, p["n"])
            return _Spec(kind, "metro", {"m": m, "k": k})
        if kind == "topk":
            d, w = params.cms_dims_from_error_bounds(p.get("eps", 0.0001),
                                                     p.get("fail_prob", 0.01))
            return _Spec(kind, "metro", {"k": p.get("k", 10), "d": d, "w": w,
                                         "slack": p.get("slack", 4),
                                         "eps": p.get("eps", 0.0001),
                                         "fail_prob": p.get("fail_prob", 0.01),
                                         "max_distinct": p.get("max_distinct")})
        if kind == "tdigest":
            return _Spec(kind, "metro", {"delta": p.get("delta", 200.0)})
        if kind == "kll":
            return _Spec(kind, "metro", {"k": p.get("k", 200),
                                         "seed": p.get("seed", 42)})
        raise ValueError(f"sketch_agg does not handle kind {kind!r}"
                         " (use cuckoo_build for cuckoo)")

    # -- phase 1 ---------------------------------------------------------

    def init(self):
        p = self.p
        if self.kind == "hll":
            return [hll.new_state(p["m"]), 0]
        if self.kind == "cms":
            return [cms.new_state(p["d"], p["w"]), 0]
        if self.kind == "bloom":
            return [bloom.new_state(p["m"]), 0]
        if self.kind == "topk":
            if self.element in ("tokens", "int32", "int64"):
                inner = topk.IntCounts()
            elif self.element in ("string", "binary"):
                inner = topk.BytesCounts()
            else:
                return [Counter(), 0]  # token_array rows (vocab-sized)
            cap = p.get("max_distinct")
            if cap:
                # near-unique columns: bound phase-1 memory to O(cap)
                # per partition — tail counts spill into the CMS
                inner = topk.CappedCounts(inner, cap, self.element,
                                          p["d"], p["w"])
            return [inner, 0]
        if self.kind == "tdigest":
            m, w = tdigest.new_state()
            return [m, w, 0]
        if self.kind == "kll":
            return [kll.KLL(p["k"], p["seed"]), 0]

    element: str = "string"  # set by _build_partials before use

    def update(self, acc, h1, h2, elems=None, weights=None):
        """Fold one batch of elements. ``weights`` counts each element
        that many times: a CMS ``weight_col``, or the per-value counts
        of a distinct-first fold (HLL/CMS/Bloom/Top-K only)."""
        p = self.p
        n = len(h1 if elems is None else elems) if weights is None \
            else int(weights.sum())
        if self.kind == "hll":
            hll.update_batch(acc[0], h1)  # max: repeats change nothing
            acc[1] += n
        elif self.kind == "cms":
            # weights = the reference's Update(data, count)
            # (count_min_sketch.go:60) vectorized; only cms is linear
            # in counts, so sketch_agg gates weight_col to this kind
            acc[1] += cms.update_batch(acc[0], h1, h2, weights)
        elif self.kind == "bloom":
            bloom.insert_batch(acc[0], h1, h2, p["k"], p["m"])  # OR
            acc[1] += n
        elif self.kind == "topk":
            if weights is None:
                acc[0].update(elems)  # IntCounts (vectorized) or Counter
            else:
                acc[0].update_counts(elems, weights)  # IntCounts / Capped
            acc[1] += n
        elif self.kind == "tdigest":
            acc[0], acc[1] = tdigest.update_batch(acc[0], acc[1], elems,
                                                  self.p["delta"])
            acc[2] += len(elems)
        elif self.kind == "kll":
            acc[0].update_batch(elems)
            acc[1] += len(elems)

    def finalize(self, acc) -> tuple[bytes, int]:
        p = self.p
        if self.kind == "hll":
            # finalize emits PHASE-1 PARTIALS: sparse encoding (state.py
            # v2) shrinks mostly-empty register frames; phase 2 decodes
            # transparently and re-emits dense
            return (HLLState(p["m"], acc[0], acc[1]).to_bytes(sparse=True),
                    acc[1])
        if self.kind == "cms":
            return CMSState(p["d"], p["w"], acc[0], acc[1]).to_bytes(), acc[1]
        if self.kind == "bloom":
            return BloomState(p["m"], p["k"], acc[0], acc[1]).to_bytes(), acc[1]
        if self.kind == "topk":
            capped = False
            if isinstance(acc[0], topk.CappedCounts):
                mat, total, cand = acc[0].finalize(
                    p["k"], p["slack"], p["d"], p["w"])
                # only a partial that actually compacted carries
                # inexact candidate counts; a cap that never fired
                # leaves the exact=True read path valid
                capped = acc[0].compactions > 0
            elif isinstance(acc[0], topk.IntCounts):
                mat, total, cand = topk.partial_from_int_counts(
                    acc[0], self.element, p["k"], p["slack"], p["d"], p["w"])
            else:
                mat, total, cand = topk.partial_from_counter(
                    acc[0], p["k"], p["slack"], p["d"], p["w"])
            st = TopKState(p["k"], p["eps"], p["fail_prob"],
                           CMSState(p["d"], p["w"], mat, total), cand,
                           capped=capped)
            return st.to_bytes(), acc[1]
        if self.kind == "tdigest":
            return tdigest.to_bytes(acc[0], acc[1], acc[2], p["delta"]), acc[2]
        if self.kind == "kll":
            return acc[0].to_bytes(), acc[1]

    def needs_elements(self) -> bool:
        return self.kind in ("topk", "tdigest", "kll")

    def folds_distinct(self) -> bool:
        """Whether a batch may be folded as its distinct values with
        counts: HLL and Bloom are idempotent (max, OR), CMS and Top-K
        are linear in counts, so the state bytes are the same as for a
        per-element fold. Only for elements hashed by value alone."""
        return (self.element in ("tokens", "int32")
                and self.kind in ("hll", "cms", "bloom", "topk"))


def merge_sketch_states(blobs) -> bytes:
    """Fold a sequence of serialized sketch states with the kind's merge
    law. Works for any mix produced by the same spec; used by phase 2
    and by checkpoint resume."""
    blobs = list(blobs)
    if blobs[0][:4] == tdigest.MAGIC:
        m, w, n, delta = tdigest.from_bytes(blobs[0])
        for b in blobs[1:]:
            m2, w2, n2, _ = tdigest.from_bytes(b)
            m, w = tdigest.merge((m, w), (m2, w2), delta)
            n += n2
        return tdigest.to_bytes(m, w, n, delta)
    if blobs[0][:4] == kll.KLL.MAGIC:
        acc = kll.KLL.from_bytes(blobs[0])
        for b in blobs[1:]:
            acc = acc.merge(kll.KLL.from_bytes(b))
        return acc.to_bytes()
    states = [sketch_from_bytes(b) for b in blobs]
    head = states[0]
    if isinstance(head, HLLState):
        reg = head.registers
        n = head.n_items
        for s in states[1:]:
            reg = hll.merge(reg, s.registers)
            n += s.n_items
        return HLLState(head.m, reg, n).to_bytes()
    if isinstance(head, CMSState):
        mat = head.matrix
        tot = head.all_sum
        for s in states[1:]:
            mat = cms.merge(mat, s.matrix)
            tot += s.all_sum
        return CMSState(head.d, head.w, mat, tot).to_bytes()
    if isinstance(head, BloomState):
        w = head.words
        n = head.n_items
        for s in states[1:]:
            w = bloom.merge(w, s.words)
            n += s.n_items
        return BloomState(head.m, head.k, w, n).to_bytes()
    if isinstance(head, TopKState):
        mat = head.cms.matrix
        tot = head.cms.all_sum
        cand = dict(head.candidates)
        capped = head.capped
        for s in states[1:]:
            mat = cms.merge(mat, s.cms.matrix)
            tot += s.cms.all_sum
            cand = topk.merge_candidates(cand, s.candidates)
            capped = capped or s.capped
        return TopKState(head.k, head.error_rate, head.accuracy,
                         CMSState(head.cms.d, head.cms.w, mat, tot),
                         cand, capped=capped).to_bytes()
    raise TypeError(f"cannot merge {type(head).__name__}")


# ---------------------------------------------------------------------------
# phase 1: mapInArrow partial builder
# ---------------------------------------------------------------------------


def _partial_schema(df: DataFrame, key_col: str | None) -> StructType:
    fields = []
    if key_col:
        fields.append(df.schema[key_col])
    fields += [StructField("state", BinaryType(), False),
               StructField("n_items", LongType(), False),
               StructField("partition_id", IntegerType(), False),
               StructField("rows_consumed", LongType(), False)]
    return StructType(fields)


class _Batch:
    """One Arrow batch plus the arrays derived from it. Each is computed
    on first use and shared by every job that folds the batch, so a
    column is flattened, hashed, grouped or reduced once per batch."""

    def __init__(self, batch: pa.RecordBatch):
        self.batch = batch
        self.num_rows = batch.num_rows
        self._memo: dict = {}

    def _get(self, key, compute):
        if key not in self._memo:
            self._memo[key] = compute()
        return self._memo[key]

    def keys(self, kcol: str):
        """(codes, uniques, rows per key); null keys get code -1."""
        def compute():
            codes, uniques = pd.factorize(self.batch.column(kcol).to_pandas(),
                                          sort=False)
            return codes, uniques, np.bincount(codes[codes >= 0],
                                               minlength=len(uniques))
        return self._get(("keys", kcol), compute)

    def token_list(self, vcol: str):
        return self._get(("list", vcol),
                         lambda: _arrow_list_ints(self.batch.column(vcol)))

    def rowmap(self, vcol: str) -> np.ndarray:
        """Source row of each flattened token."""
        return self._get(("rowmap", vcol), lambda: np.repeat(
            np.arange(self.num_rows), np.diff(self.token_list(vcol)[1])))

    def hashes(self, vcol: str, element: str, algo: str):
        return self._get(("hashes", vcol, element, algo), lambda: extract_hashes(
            self.batch.column(vcol), element, algo))

    def elements(self, vcol: str, element: str):
        return self._get(("elements", vcol, element), lambda: element_values(
            self.batch.column(vcol), element))

    def groups(self, kcol: str, vcol: str, rowmap: np.ndarray | None):
        """(order, bounds): ``order[bounds[g]:bounds[g + 1]]`` selects
        key g's elements. The cache key records whether the elements are
        flattened tokens: a 'tokens' and a 'token_array' job over the
        same columns group arrays of different lengths."""
        def compute():
            codes, uniques, _ = self.keys(kcol)
            ecodes = codes if rowmap is None else codes[rowmap]
            order = np.argsort(ecodes, kind="stable")
            bounds = np.searchsorted(ecodes[order], np.arange(len(uniques)))
            return order, np.append(bounds, len(ecodes))
        return self._get(("groups", kcol, vcol, rowmap is not None), compute)

    def distinct(self, kcol: str | None, vcol: str, element: str, algo: str):
        """(bounds, values, counts, h1, h2) of the batch's distinct
        (key, value) pairs, sorted by key then value; key g owns
        ``[bounds[g], bounds[g + 1])`` and null keys are dropped. One
        ``np.bincount`` over the dense (key, value) grid finds them and
        only they are hashed. None when the batch is empty or the grid
        exceeds ``topk.DENSE_SPAN`` cells (the ``IntCounts`` rule): the
        caller then folds per element. Cached per key column too: the
        same values under another key column pair up differently."""
        def compute():
            if element == "tokens":
                values = self.token_list(vcol)[0].astype(np.int64)
            else:
                values = self.batch.column(vcol).to_numpy(
                    zero_copy_only=False).astype(np.int64)
            if len(values) == 0:
                return None
            n_keys = 1 if kcol is None else len(self.keys(kcol)[1])
            vmin = int(values.min())
            span = int(values.max()) - vmin + 1
            if n_keys * span > topk.DENSE_SPAN:
                return None
            cells = values - vmin
            if kcol is not None:
                codes = self.keys(kcol)[0]
                if element == "tokens":
                    codes = codes[self.rowmap(vcol)]
                cells = (codes * span + cells)[codes >= 0]
            flat = np.bincount(cells)
            nz = np.flatnonzero(flat)
            vals = nz % span + vmin
            h1, h2 = hashing.hash_tokens(vals, algo)
            bounds = np.searchsorted(nz // span, np.arange(n_keys + 1))
            return bounds, vals, flat[nz], h1, h2
        return self._get(("distinct", kcol, vcol, element, algo), compute)


def _take(arr, sel):
    return arr if arr is None or sel is None else _select_elems(arr, sel)


def _fold_batch(b: _Batch, spec: _Spec, vcol: str, kcol: str | None,
                accs: dict, rows: dict, slot=lambda key: key,
                weight_col: str | None = None) -> None:
    """Fold one batch into one job's per-key accumulators
    ``accs[slot(key)]`` and add each key's input rows to
    ``rows[slot(key)]``. Rows with a null key are dropped.

    Unweighted HLL/CMS/Bloom/Top-K jobs over ``tokens``/``int32`` fold
    the batch's distinct values with their counts (see
    :meth:`_Spec.folds_distinct`); every other job folds per element."""
    if kcol is None:
        keys, row_counts = [None], [b.num_rows]
    else:
        _, keys, row_counts = b.keys(kcol)
    dist = None
    if weight_col is None and spec.folds_distinct():
        dist = b.distinct(kcol, vcol, spec.element, spec.algo)
    if dist is not None:
        bounds, vals, counts, h1, h2 = dist
        for g, key in enumerate(keys):
            s, k = slice(bounds[g], bounds[g + 1]), slot(key)
            spec.update(accs.setdefault(k, spec.init()), h1[s], h2[s],
                        vals[s], counts[s])
            rows[k] = rows.get(k, 0) + int(row_counts[g])
        return
    if spec.needs_elements():
        # Top-K counts exact values and t-digest/KLL take raw values:
        # nothing is hashed here
        h1 = h2 = None
        elems = b.elements(vcol, spec.element)
        rowmap = b.rowmap(vcol) if spec.element == "tokens" else None
    else:
        h1, h2, rowmap = b.hashes(vcol, spec.element, spec.algo)
        elems = None
    welems = None
    if weight_col is not None:
        wvals = b.batch.column(weight_col) \
            .to_numpy(zero_copy_only=False).astype(np.float64)
        # tokens explode per row: each token carries its row's weight
        welems = wvals if rowmap is None else wvals[rowmap]
    if kcol is None:
        sels = [None]
    else:
        order, bounds = b.groups(kcol, vcol, rowmap)
        sels = [order[bounds[g]:bounds[g + 1]] for g in range(len(keys))]
    for key, sel, n_rows in zip(keys, sels, row_counts):
        k = slot(key)
        spec.update(accs.setdefault(k, spec.init()), _take(h1, sel),
                    _take(h2, sel), _take(elems, sel), _take(welems, sel))
        rows[k] = rows.get(k, 0) + int(n_rows)


def _build_partials(df: DataFrame, spec: _Spec, value_col: str,
                    key_col: str | None, element: str,
                    skip_partitions: frozenset[int] = frozenset(),
                    weight_col: str | None = None) -> DataFrame:
    out_schema = _partial_schema(df, key_col)
    cols = ([key_col] if key_col else []) + [value_col]
    if weight_col:
        cols.append(weight_col)
    spec.element = element

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        if pid in skip_partitions:
            # resume path: this partition's partial is already checkpointed
            # (real deployments prune at the source/manifest level instead)
            return
        accs: dict = {}
        rows_by_key: dict = {}
        # fine-grained-key fast path: one vectorized update per batch
        # instead of a python loop over keys (see kernels.hll.KeyedHLL)
        keyed_hll = (hll.KeyedHLL(spec.p["m"])
                     if key_col and spec.kind == "hll" else None)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            b = _Batch(batch)
            if keyed_hll is None:
                _fold_batch(b, spec, value_col, key_col, accs, rows_by_key,
                            weight_col=weight_col)
                continue
            h1, _, rowmap = b.hashes(value_col, element, spec.algo)
            codes, uniques, rc = b.keys(key_col)
            ecodes = codes if rowmap is None else codes[rowmap]
            keep = ecodes >= 0  # null keys dropped (as in the fold path)
            keyed_hll.update(list(uniques), ecodes[keep], h1[keep])
            for u in np.nonzero(rc)[0].tolist():
                k = uniques[u]
                rows_by_key[k] = rows_by_key.get(k, 0) + int(rc[u])
        out_rows = []
        if keyed_hll is not None:
            for key, regs, n_items in keyed_hll.states():
                out_rows.append({
                    key_col: key,
                    # sparse partial frames (state.py v2): fine-grained
                    # keys leave most of the m registers zero, and these
                    # rows exist only to be shuffled into phase 2
                    "state": HLLState(spec.p["m"], regs,
                                      n_items).to_bytes(sparse=True),
                    "n_items": n_items, "partition_id": pid,
                    "rows_consumed": rows_by_key[key]})
        for key, acc in accs.items():
            blob, n_items = spec.finalize(acc)
            row = {"state": blob, "n_items": n_items,
                   "partition_id": pid, "rows_consumed": rows_by_key[key]}
            if key_col:
                row[key_col] = key
            out_rows.append(row)
        if out_rows:
            yield from pa.Table.from_pylist(
                out_rows, schema=_to_arrow_schema(out_schema)).to_batches()

    return df.select(*cols).mapInArrow(fn, out_schema)


def _to_arrow_schema(st: StructType) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema
    return to_arrow_schema(st)


# ---------------------------------------------------------------------------
# phase 2: tree merge
# ---------------------------------------------------------------------------


def _merge_partials(partials: DataFrame, key_col: str | None,
                    tree_fanout: int | None,
                    merge_buckets: int | None = None) -> DataFrame:
    key_cols = [key_col] if key_col else []
    out_fields = ([partials.schema[key_col]] if key_col else []) + [
        StructField("state", BinaryType(), False),
        StructField("n_items", LongType(), False),
        StructField("n_partials", LongType(), False),
    ]
    out_schema = StructType(out_fields)

    def merge_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        blob = merge_sketch_states(pdf["state"].tolist())
        row = {"state": blob, "n_items": int(pdf["n_items"].sum()),
               "n_partials": int(pdf["n_partials"].sum()
                                 if "n_partials" in pdf else len(pdf))}
        for kc in key_cols:
            row[kc] = pdf[kc].iloc[0]
        return pd.DataFrame([row])

    if tree_fanout:
        # intermediate level: merge within (key, partition_id % fanout)
        inter_schema = StructType(list(out_schema.fields)
                                  + [StructField("_salt", IntegerType(), False)])

        def inter_fn(pdf: pd.DataFrame) -> pd.DataFrame:
            out = merge_fn(pdf)
            out["_salt"] = pdf["_salt"].iloc[0]
            return out

        salted = partials.withColumn(
            "_salt", (F.col("partition_id") % tree_fanout).cast("int"))
        level1 = salted.groupBy(*key_cols, "_salt").applyInPandas(
            inter_fn, inter_schema)
        partials = level1

    if key_cols and merge_buckets:
        # many-fine-grained-keys path: one applyInPandas call per key
        # costs ~ms of pandas overhead; bucket keys by hash so each
        # call merges ~n_keys/merge_buckets keys in a tight loop
        def bucket_merge(pdf: pd.DataFrame) -> pd.DataFrame:
            rows = []
            for key, g in pdf.groupby(key_cols[0], dropna=False, sort=False):
                rows.append({
                    key_cols[0]: key,
                    "state": merge_sketch_states(g["state"].tolist()),
                    "n_items": int(g["n_items"].sum()),
                    "n_partials": len(g)})
            return pd.DataFrame(rows)

        return (partials
                .withColumn("_kb", F.pmod(F.hash(*key_cols),
                                          F.lit(merge_buckets)))
                .groupBy("_kb")
                .applyInPandas(lambda pdf: bucket_merge(pdf), out_schema))

    if key_cols:
        return partials.groupBy(*key_cols).applyInPandas(merge_fn, out_schema)

    def merge_fn_g(pdf: pd.DataFrame) -> pd.DataFrame:
        out = merge_fn(pdf)
        out["_g"] = 1
        return out

    return partials.groupBy(F.lit(1).alias("_g")).applyInPandas(
        merge_fn_g, StructType([StructField("_g", IntegerType(), False)]
                               + list(out_schema.fields))).drop("_g")


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def sketch_agg(df: DataFrame, kind: str, value_col: str, *,
               key_col: str | None = None, element: str | None = None,
               tree_fanout: int | None = None,
               merge_buckets: int | None = None,
               weight_col: str | None = None,
               _return_partials: bool = False, **sketch_params) -> DataFrame:
    """Build one mergeable sketch per key over ``df[value_col]``.

    Returns ``DataFrame[key?, state binary, n_items, n_partials]``.

    kinds: ``hll`` (m), ``cms`` (d,w | eps,delta | eps,fail_prob),
    ``bloom`` (m,k | n,eps), ``topk`` (k, eps, fail_prob, slack,
    max_distinct).
    element kinds: ``tokens`` (flatten array<int>), ``token_array``
    (whole array per row), ``int32``/``int64``/``string``/``binary``
    (inferred from the column type when omitted).

    ``topk`` + ``max_distinct=N``: bound phase-1 memory to O(N) per
    partition for near-unique element columns (URLs/doc ids at 10⁹
    rows) — when a partition tracks more than N distinct elements the
    count tail is compacted into the partial's CMS (see
    ``kernels.topk.CappedCounts``). Capped builds must be read with
    ``topk_values(exact=False)`` (the reference's CMS-estimate
    semantics); the ``exact=True`` fast path assumes uncapped counts.

    ``cms`` + ``weight_col=C``: each row adds ``C``, not 1 — the
    reference's ``Update(data, count)`` (``count_min_sketch.go:60``)
    vectorized. Because the CMS is linear in counts, building from a
    pre-aggregated ``(key, count)`` table equals building from the raw
    rows bit-for-bit — the one-scan path when an exact GROUP BY over
    the same input is needed anyway. Only ``cms`` is count-linear, so
    other kinds reject ``weight_col``.
    """
    element = infer_element(df, value_col, element)
    spec = _Spec.make(kind, **sketch_params)
    if weight_col is not None and kind != "cms":
        raise ValueError(
            f"weight_col is only meaningful for kind='cms' (the"
            f" count-linear sketch; reference Update(data, count)) —"
            f" got kind={kind!r}")
    partials = _build_partials(df, spec, value_col, key_col, element,
                               weight_col=weight_col)
    if _return_partials:
        return partials
    return _merge_partials(partials, key_col, tree_fanout, merge_buckets)


def multi_sketch_agg(df: DataFrame, jobs: list[dict],
                     tree_fanout: int | None = None) -> DataFrame:
    """Build MANY sketches in ONE scan — the 100 TB shape: the input is
    read once, each Arrow batch is hashed once per distinct
    (column, element, algo) and folded into every requested sketch.
    HLL/CMS/Bloom/Top-K jobs over ``tokens``/``int32`` hash only the
    batch's distinct (key, value) pairs and fold their counts.

    ``jobs``: list of dicts ``{name, kind, value_col, key_col?,
    element?, params?}``. Keys are stringified into a uniform ``key``
    column (null for global sketches). Returns
    ``DataFrame[sketch_name, key, state, n_items, n_partials]``.
    """
    specs: dict[str, _Spec] = {}
    meta: dict[str, tuple[str, str | None]] = {}
    for j in jobs:
        name = j["name"]
        spec = _Spec.make(j["kind"], **j.get("params", {}))
        spec.element = infer_element(df, j["value_col"], j.get("element"))
        specs[name] = spec
        meta[name] = (j["value_col"], j.get("key_col"))

    in_cols = sorted({m[0] for m in meta.values()}
                     | {m[1] for m in meta.values() if m[1]})
    out_schema = StructType([
        StructField("sketch_name", StringType(), False),
        StructField("key", StringType(), True),
        StructField("state", BinaryType(), False),
        StructField("n_items", LongType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("rows_consumed", LongType(), False)])

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        accs: dict[tuple[str, str | None], list] = {}
        rows_seen: dict[tuple[str, str | None], int] = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            b = _Batch(batch)
            for name, spec in specs.items():
                vcol, kcol = meta[name]
                _fold_batch(b, spec, vcol, kcol, accs, rows_seen,
                            slot=lambda key, name=name: (
                                name, None if key is None else str(key)))
        if accs:
            out = []
            for (name, key), acc in accs.items():
                blob, n_items = specs[name].finalize(acc)
                out.append({"sketch_name": name, "key": key, "state": blob,
                            "n_items": n_items, "partition_id": pid,
                            "rows_consumed": rows_seen[(name, key)]})
            yield from pa.Table.from_pylist(
                out, schema=_to_arrow_schema(out_schema)).to_batches()

    partials = df.select(*in_cols).mapInArrow(fn, out_schema)

    merge_schema = StructType([
        StructField("sketch_name", StringType(), False),
        StructField("key", StringType(), True),
        StructField("state", BinaryType(), False),
        StructField("n_items", LongType(), False),
        StructField("n_partials", LongType(), False)])

    def merge_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        blob = merge_sketch_states(pdf["state"].tolist())
        return pd.DataFrame([{
            "sketch_name": pdf["sketch_name"].iloc[0],
            "key": pdf["key"].iloc[0],
            "state": blob,
            "n_items": int(pdf["n_items"].sum()),
            "n_partials": int(pdf["n_partials"].sum()
                              if "n_partials" in pdf else len(pdf))}])

    if tree_fanout:
        inter_schema = StructType(list(merge_schema.fields)
                                  + [StructField("_salt", IntegerType(), False)])

        def inter_fn(pdf: pd.DataFrame) -> pd.DataFrame:
            out = merge_fn(pdf)
            out["_salt"] = int(pdf["_salt"].iloc[0])
            return out

        partials = (partials
                    .withColumn("_salt", (F.col("partition_id") % tree_fanout)
                                .cast("int"))
                    .groupBy("sketch_name", "key", "_salt")
                    .applyInPandas(inter_fn, inter_schema))

    grouped = partials.groupBy("sketch_name", "key")
    return grouped.applyInPandas(merge_fn, merge_schema)


def _element_hashes_df(df: DataFrame, value_col: str, key_col: str | None,
                       element: str, n_shards: int) -> DataFrame:
    """Phase-1 hash extraction shared by the cuckoo build / remove / probe
    paths: ``[key?, h1 long, shard int, _real bool]`` where ``shard =
    shard_of(h1, n_shards)`` (splitmix-mixed — see
    :func:`gostatix_spark.hashing.shard_of`; raw ``h1 % n_shards`` would
    share low bits with the in-filter addressing ``i1 = h1 % size``,
    leaving only 1/n_shards of each shard's buckets reachable).
    ``_real`` is always TRUE here; sentinel rows union FALSE."""
    key_cols = [key_col] if key_col else []
    hash_schema = StructType(
        ([df.schema[key_col]] if key_col else [])
        + [StructField("h1", LongType(), False),
           StructField("shard", IntegerType(), False),
           StructField("_real", BooleanType(), False)])

    def hash_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            h1, _, rowmap = extract_hashes(batch.column(value_col), element,
                                           "murmur3")
            cols = {"h1": pa.array(h1.astype(np.int64)),
                    "shard": pa.array(
                        hashing.shard_of(h1, n_shards).astype(np.int32)),
                    "_real": pa.array(np.ones(len(h1), dtype=bool))}
            if key_col:
                karr = batch.column(key_col)
                if rowmap is not None:
                    karr = karr.take(pa.array(rowmap))
                cols[key_col] = karr
            yield pa.RecordBatch.from_pydict(
                {f.name: cols[f.name] for f in hash_schema.fields},
                schema=_to_arrow_schema(hash_schema))

    return df.select(*key_cols, value_col).mapInArrow(hash_fn, hash_schema)


def _shard_sentinels(df: DataFrame, key_col: str | None,
                     n_shards: int) -> DataFrame:
    """One ``_real=FALSE`` row per (key?, shard) so groupBy emits a state
    row even for shards that received zero elements — probes route by
    ``shard_of`` and a missing shard would misindex every lookup."""
    spark = df.sparkSession
    shards = spark.range(n_shards).select(
        F.col("id").cast("int").alias("shard"))
    base = (df.select(key_col).distinct().crossJoin(shards)
            if key_col else shards)
    return (base
            .withColumn("h1", F.lit(0).cast("long"))
            .withColumn("_real", F.lit(False))
            .select(*([key_col] if key_col else []), "h1", "shard", "_real"))


def cuckoo_shard_size(n_rows: int, n_shards: int, bucket_size: int = 4) -> int:
    """Per-shard bucket count for ``n_rows`` split across ``n_shards``
    at the reference's 0.955 design load (``base_cuckoo_filter.go``
    capacity policy), PLUS a 6σ Poisson-imbalance margin: shard counts
    vary ≈ √(n/shards), and a shard landing above the design load makes
    the kick loop panic — exact 0.955 sizing failed in practice at
    1M × 32 shards when pow-2 rounding happened to add no slack."""
    per_shard_items = n_rows / max(1, n_shards)
    margin = 6.0 * per_shard_items ** 0.5
    return max(64, int(np.ceil(
        (per_shard_items + margin) / bucket_size / 0.955)))


def cuckoo_build(df: DataFrame, value_col: str, *,
                 key_col: str | None = None, element: str | None = None,
                 size: int | None = None, n: int | None = None,
                 bucket_size: int = 4,
                 fp_len: int | None = None, retries: int = 500,
                 eps: float = 0.001, n_shards: int = 1,
                 seed: int = 42) -> DataFrame:
    """Distributed cuckoo-filter build (SURVEY.md §3.3).

    Phase 1 (parallel, vectorized): hash every element. Phase 2: shuffle
    the 8-byte hashes to their (key, shard) and run the sequential
    insert kernel once per shard — the kernel itself is numpy-array
    based. ``n_shards > 1`` splits each key's filter into independent
    shards by ``shard_of(h1)``; lookups and removals route the same way
    (:func:`gostatix_spark.query.cuckoo_contains`,
    :func:`cuckoo_apply_removals`), so build, delete and probe
    parallelize across shards. Size is rounded to a power of two so the
    XOR partner map is involutive (policy SURVEY.md §1.6.5). Every
    shard emits a row even when empty (zero-element shards are states,
    not absent rows).

    ``size`` is the per-shard bucket count when given; else it is
    derived from the expected element count ``n`` (pass it when known —
    skips a full scan) or, as a last resort, from an auto ``df.count()``
    scan, split across shards at 0.955 load
    (``base_cuckoo_filter.go`` capacity policy).

    Returns ``DataFrame[key?, shard int, state binary, n_items]``.
    """
    element = infer_element(df, value_col, element)
    if size is None:
        size = params.next_power_of_two(
            cuckoo_shard_size(n if n is not None else df.count(),
                              n_shards, bucket_size))
    else:
        size = params.next_power_of_two(size)
    if fp_len is None:
        fp_len = params.cuckoo_fingerprint_length(size, eps)

    key_cols = [key_col] if key_col else []
    hashes = _element_hashes_df(df, value_col, key_col, element, n_shards) \
        .unionByName(_shard_sentinels(df, key_col, n_shards))

    out_schema = StructType(
        ([df.schema[key_col]] if key_col else [])
        + [StructField("shard", IntegerType(), False),
           StructField("state", BinaryType(), False),
           StructField("n_items", LongType(), False)])

    def build_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        real = pdf[pdf["_real"]]
        h1 = real["h1"].to_numpy().astype(np.int64).view(np.uint64)
        f = cuckoo.CuckooFilter(size, bucket_size, fp_len, retries, seed=seed)
        f.bulk_insert_hashes(h1)
        st = CuckooState(size, bucket_size, fp_len, retries, f.length, f.buckets)
        row = {"shard": int(pdf["shard"].iloc[0]),
               "state": st.to_bytes(), "n_items": len(h1)}
        for kc in key_cols:
            row[kc] = pdf[kc].iloc[0]
        return pd.DataFrame([row])

    return hashes.groupBy(*key_cols, "shard").applyInPandas(build_fn, out_schema)


def cuckoo_apply_removals(states: DataFrame, removals: DataFrame,
                          value_col: str, *, n_shards: int,
                          key_col: str | None = None,
                          element: str | None = None) -> DataFrame:
    """Distributed ``Remove`` (``cuckoo_filter.go:128-144``) over a
    sharded build: hash the removal elements (vectorized, parallel),
    route each to its owning shard by the build's ``shard_of`` rule,
    and apply the vectorized batch-remove kernel inside a cogrouped
    ``applyInPandas`` — one task per (key?, shard), no element ever
    touches the driver.

    ``states`` is :func:`cuckoo_build` output; ``removals`` is any
    DataFrame with ``value_col`` (and ``key_col`` when the build was
    keyed). ``n_shards`` must equal the build's. Returns the same
    ``[key?, shard, state, n_items]`` shape with removals applied
    (``n_items`` decremented by the count actually removed — absent
    elements are no-ops, as in the reference)."""
    element = infer_element(removals, value_col, element)
    key_cols = [key_col] if key_col else []
    hashes = _element_hashes_df(removals, value_col, key_col, element,
                                n_shards)
    out_schema = StructType(
        ([states.schema[key_col]] if key_col else [])
        + [StructField("shard", IntegerType(), False),
           StructField("state", BinaryType(), False),
           StructField("n_items", LongType(), False)])
    out_cols = key_cols + ["shard", "state", "n_items"]

    def apply_fn(spdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(spdf):
            # removals routed to a (key, shard) with no built state:
            # nothing to remove from
            return pd.DataFrame(columns=out_cols)
        st: CuckooState = sketch_from_bytes(bytes(spdf["state"].iloc[0]))
        f = cuckoo.CuckooFilter(st.size, st.bucket_size, st.fp_len,
                                st.retries, buckets=st.buckets,
                                length=st.length)
        n_removed = 0
        if len(rpdf):
            h1 = rpdf["h1"].to_numpy().astype(np.int64).view(np.uint64)
            n_removed = int(f.bulk_remove_hashes(h1).sum())
        new = CuckooState(st.size, st.bucket_size, st.fp_len, st.retries,
                          f.length, f.buckets)
        row = {"shard": int(spdf["shard"].iloc[0]), "state": new.to_bytes(),
               "n_items": int(spdf["n_items"].iloc[0]) - n_removed}
        for kc in key_cols:
            row[kc] = spdf[kc].iloc[0]
        return pd.DataFrame([row])

    return (states.groupBy(*key_cols, "shard")
            .cogroup(hashes.groupBy(*key_cols, "shard"))
            .applyInPandas(apply_fn, out_schema))


def bloom_build_sharded(df: DataFrame, value_col: str, *,
                        n: int, eps: float = 0.01,
                        element: str | None = None, n_shards: int = 8,
                        tree_fanout: int | None = None) -> DataFrame:
    """Sharded Bloom build (SURVEY.md §7.4.4): the scale path for
    filters too big for one driver/executor blob (n = 10⁹ at p = 0.01
    is ~1.2 GB). Each element belongs to shard ``shard_of(h1)``; each
    shard is an independent Bloom sized for ``n / n_shards`` expected
    elements at the same ``eps`` (total bits identical to the unsharded
    filter, same FPR). Phase 1 stays ONE pass with map-side combine:
    every input partition folds its elements into ``n_shards`` small
    word arrays, emitting one partial row per (partition, shard); phase
    2 ORs per shard. Probe via
    :func:`gostatix_spark.query.bloom_contains_sharded`, which routes by
    the same rule — still no false negatives.

    Returns ``DataFrame[shard int, state, n_items, n_partials]``.
    """
    element = infer_element(df, value_col, element)
    n_per = max(1, -(-n // n_shards))
    m = params.bloom_filter_size(n_per, eps)
    k = params.bloom_num_hashes(m, n_per)

    out_schema = StructType([
        StructField("shard", IntegerType(), False),
        StructField("state", BinaryType(), False),
        StructField("n_items", LongType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("rows_consumed", LongType(), False)])

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        words = [bloom.new_state(m) for _ in range(n_shards)]
        items = np.zeros(n_shards, dtype=np.int64)
        rows = 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            h1, h2, _ = extract_hashes(batch.column(value_col), element,
                                       "metro")
            shard = hashing.shard_of(h1, n_shards)
            order = np.argsort(shard, kind="stable")
            counts = np.bincount(shard, minlength=n_shards)
            off = 0
            for s in range(n_shards):
                c = int(counts[s])
                if c:
                    sel = order[off:off + c]
                    bloom.insert_batch(words[s], h1[sel], h2[sel], k, m)
                    items[s] += c
                off += c
            rows += batch.num_rows
        out = [{"shard": s,
                "state": BloomState(m, k, words[s], int(items[s])).to_bytes(),
                "n_items": int(items[s]), "partition_id": pid,
                "rows_consumed": rows}
               for s in range(n_shards)]
        if out:
            yield from pa.Table.from_pylist(
                out, schema=_to_arrow_schema(out_schema)).to_batches()

    partials = df.select(value_col).mapInArrow(fn, out_schema)
    return _merge_partials(partials, "shard", tree_fanout)
