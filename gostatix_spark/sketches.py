"""The sketch registry: one entry per kind, found from a state's frame.

Each kind is one :class:`Sketch` subclass:

* the constructor resolves the build parameters into ``.p``
  (``Sketch.make(kind, **p)``);
* ``init`` / ``update`` / ``finalize`` fold one partition's elements
  into a serialized phase-1 partial;
* ``decode`` reads a serialized state, ``merge`` folds decoded states
  left to right with the kind's merge law into a decoded state, and
  ``encode`` serializes one;
* :func:`merge_runs` merges every run of an Arrow batch of serialized
  states, after the open run it returned for the previous batch. HLL,
  CMS and Bloom (:class:`ArrayMerge`: one fixed-width array merged
  elementwise by max, add or OR) merge a whole kind at a time: the
  frames are read straight from the batch's binary buffers
  (``state.read_frames``, which validates every one), sparse HLL frames
  scatter their (index, value) pairs, dense frames are copied once as
  (rows × width) rows and each run's rows fold in ⌈log₂ run length⌉
  elementwise passes (:func:`_fold_runs`). Top-K, t-digest and KLL runs
  decode and fold through ``merge``; :func:`merge` is one run;
* ``info`` reports a decoded state's parameters, fill and accuracy
  (``query.sketch_info``);
* ``algo`` names the hash an element is folded or probed under, and
  Bloom, CMS and Cuckoo ``probe`` a decoded state with a batch of
  element hashes (the membership and count probes of ``query.py``).

A state names its kind by its leading bytes, as the one frame table
``state.FRAMES`` lists them for all seven kinds: ``GSK1`` plus a kind
byte, or the ``GSKQ``/``GSKL`` magic of t-digest and KLL.
:func:`lookup` maps any state to its entry, so the build engine
(``agg.py``), merges, checkpoints and queries hold no per-kind code.
Adding a sketch kind is adding one subclass to :data:`REGISTRY`.
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

from gostatix_spark import params
from gostatix_spark.kernels import bloom, cms, hll, kll, tdigest, topk
from gostatix_spark.state import (FRAMES, BloomState, CMSState, CuckooState,
                                  Frames, HLLState, TopKState, binary_array,
                                  binary_buffers, check_rows, hll_top,
                                  kind_of, lead_kinds, read_frames,
                                  sparse_pairs, write_frames)


def _count(vals, weights) -> int:
    """Elements one update folds: ``weights`` counts each value that
    many times (a distinct-first fold's counts)."""
    return len(vals) if weights is None else int(weights.sum())


class Sketch:
    """One sketch kind; an instance is bound to its resolved parameters
    ``p``. ``element`` (the element encoding) is set by the build before
    the first ``init``."""

    kind = ""
    algo = "metro"
    element = "string"
    # the element kinds this kind folds (a build checks its job's first)
    element_kinds = ("tokens", "token_array", "int32", "int64", "string",
                     "binary")
    # folds raw values (Top-K counts, quantile sketches): nothing is hashed
    needs_elements = False
    # idempotent (max, OR) or linear in counts (add): a batch may fold as
    # its distinct values with their counts, to the same bytes
    counts_fold = False

    @staticmethod
    def make(kind: str, **p) -> "Sketch":
        if kind not in REGISTRY:
            raise ValueError(f"unknown sketch kind {kind!r}")
        return REGISTRY[kind](**p)

    def folds_distinct(self) -> bool:
        """Whether a batch may fold as distinct values with counts: only
        for elements hashed by value alone."""
        return self.counts_fold and self.element in ("tokens", "int32")

    @staticmethod
    def merge(states):
        raise TypeError(f"cannot merge {type(states[0]).__name__}")

    @staticmethod
    def encode(st) -> bytes:
        return st.to_bytes()

    @classmethod
    def quantile(cls, st, qs):
        raise TypeError(f"{cls.kind} states have no quantiles")


class ArrayMerge(Sketch):
    """A kind whose state is one fixed-width array merged elementwise
    by ``ufunc`` (HLL max, CMS add, Bloom OR); ``state.FRAMES`` holds
    its frame layout. Its runs of partials merge a whole batch at
    a time (:meth:`reduce_runs`), straight from the serialized frames;
    no state is decoded one by one."""

    ufunc = None

    @classmethod
    def reduce_runs(cls, data, lo, hi, starts, rows, max_elems=None):
        """Merge the runs ``[starts[i], starts[i+1])`` of the frames
        ``data[lo[j]:hi[j]]``, which came from ``rows`` (named in
        errors). Yields ``(runs, params, payload, count)`` per parameter
        set, in pieces of at most ``max_elems`` payload elements (one
        run at least): the runs' indices, their shared header
        parameters, one merged payload row and summed count per run. A
        frame whose parameters differ from its run's first frame's
        raises ``ValueError``."""
        if not len(lo):
            return
        fr = read_frames(data, lo, hi, cls.kind, rows)
        run_of = np.repeat(np.arange(len(starts)),
                           np.diff(np.append(starts, len(lo))))
        check_rows((fr.params == fr.params[starts][run_of]).all(1), rows,
                   f"{cls.kind} parameters differ within one run")
        sets, set_of_run = np.unique(fr.params[starts], axis=0,
                                     return_inverse=True)
        set_of_run = set_of_run.ravel()
        for g, p in enumerate(sets):
            runs = np.flatnonzero(set_of_run == g)
            sel = np.flatnonzero(set_of_run[run_of] == g)
            local = np.searchsorted(runs, run_of[sel])  # run within the set
            step = (max(1, max_elems // int(fr.width[sel[0]])) if max_elems
                    else len(runs))
            for s in range(0, len(runs), step):
                a, b = np.searchsorted(local, [s, s + step])
                part = local[a:b] - s
                sub = Frames(*(x[sel[a:b]] for x in fr))
                yield (runs[s:s + step], p, *cls._reduce(
                    data, sub, np.flatnonzero(np.diff(part, prepend=-1)),
                    part))

    @classmethod
    def _reduce(cls, data, fr: Frames, starts, run_of):
        """(payload, count) per run of frames sharing parameters: the
        dense frames folded by :func:`_fold_runs` (an HLL register
        checked against :func:`state.hll_top` first), then the sparse
        HLL (index, value) pairs scattered in."""
        width, dtype = int(fr.width[0]), FRAMES[cls.kind].dtype
        out = np.zeros((len(starts), width), dtype)
        dense = np.flatnonzero(fr.version == 1)
        if dense.size:
            r = run_of[dense]
            first = np.flatnonzero(np.diff(r, prepend=-1))
            rows = sliding_window_view(data, width * dtype.itemsize)[
                fr.lo[dense]]  # one copy of the dense payloads
            if cls.kind == "hll":  # the ranks a register holds, as sparse
                check_rows(rows.max(1) <= hll_top(width), fr.rows[dense],
                           "hll register out of range")
            out[r[first]] = _fold_runs(cls.ufunc, rows.view(dtype), first)
        if dense.size < len(fr.lo):  # sparse HLL frames
            owner, idx, val = sparse_pairs(data, fr)
            cls.ufunc.at(out.reshape(-1), run_of[owner] * width + idx, val)
        return out, np.add.reduceat(fr.count, starts)


def _fold_runs(ufunc, a: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """``ufunc`` over the rows of each run ``[starts[i], starts[i+1])``
    of ``a``, one row per run. Each pass folds every run's odd rows into
    its even ones and keeps the even ones, so a run of L rows takes
    ⌈log₂ L⌉ elementwise passes; ``ufunc.reduceat`` along axis 0 costs
    10-100× more per element."""
    lens = np.diff(np.append(starts, len(a)))
    while len(a) > len(lens):
        pos = np.arange(len(a)) - np.repeat(np.cumsum(lens) - lens, lens)
        even = pos % 2 == 0
        kept = a[even]
        paired = (pos + 1 < np.repeat(lens, lens))[even]
        kept[paired] = ufunc(kept[paired], a[~even])
        a, lens = kept, (lens + 1) // 2
    return a


class HLL(ArrayMerge):
    kind = "hll"
    counts_fold = True
    ufunc = np.maximum
    decode = staticmethod(HLLState.from_bytes)

    def __init__(self, m=16384, **_):
        if not params.is_power_of_two(m):
            raise ValueError("hll m must be a power of two")
        self.p = {"m": m}

    def init(self):
        return [hll.new_state(self.p["m"]), 0]

    @classmethod
    def count_runs(cls, states, starts: np.ndarray,
                   linear_counting: bool = True) -> np.ndarray:
        """The estimate of each run ``[starts[i], starts[i+1])`` of the
        HLL states in an Arrow binary array, merged by max: the frames
        read as one batch, then one ``hll.count_many`` per block of
        merged registers (at most ``hll.COUNT_BLOCK`` registers, so
        memory stays flat in m). No merged frame is written."""
        data, off = binary_buffers(states)
        out = np.empty(len(starts), np.int64)
        for runs, _, regs, _ in cls.reduce_runs(
                data, off[:-1], off[1:], starts, np.arange(len(states)),
                hll.COUNT_BLOCK):
            out[runs] = hll.count_many(regs, linear_counting=linear_counting)
        return out

    @classmethod
    def count_frames(cls, states, linear_counting: bool = True) -> np.ndarray:
        """The estimate of every HLL state in an Arrow binary array:
        :meth:`count_runs` over runs of one."""
        return cls.count_runs(states, np.arange(len(states)), linear_counting)

    def update(self, acc, h1, h2, elems, weights):
        hll.update_batch(acc[0], h1)  # max: repeats change nothing
        acc[1] += _count(h1, weights)

    def finalize(self, acc):
        # phase-1 partials use the sparse frame (state.py v2); merges
        # decode it transparently and re-emit dense
        return HLLState(self.p["m"], acc[0], acc[1]).to_bytes(sparse=True), \
            acc[1]

    @staticmethod
    def info(st):
        return ({"m": st.m, "n": st.n_items},
                float((st.registers > 0).mean()), 1.04 / math.sqrt(st.m))


class CMS(ArrayMerge):
    kind = "cms"
    counts_fold = True
    ufunc = np.add
    decode = staticmethod(CMSState.from_bytes)

    def __init__(self, **p):
        if "d" in p:
            d, w = p["d"], p["w"]
        elif "fail_prob" in p:
            d, w = params.cms_dims_from_error_bounds(p.get("eps", 0.001),
                                                     p["fail_prob"])
        else:
            d, w = params.cms_dims_from_estimates(p.get("eps", 0.001),
                                                  p.get("delta", 0.999))
        self.p = {"d": d, "w": w}

    def init(self):
        return [cms.new_state(self.p["d"], self.p["w"]), 0]

    def update(self, acc, h1, h2, elems, weights):
        # weights = the reference's Update(data, count)
        # (count_min_sketch.go:60) vectorized; only cms is linear in
        # counts, so sketch_agg gates weight_col to this kind
        acc[1] += cms.update_batch(acc[0], h1, h2, weights)

    @staticmethod
    def probe(st, h1, h2):
        return cms.query_batch(st.matrix, h1, h2)

    def finalize(self, acc):
        p = self.p
        return CMSState(p["d"], p["w"], acc[0], acc[1]).to_bytes(), acc[1]

    @staticmethod
    def info(st):
        return ({"d": st.d, "w": st.w, "all_sum": st.all_sum},
                float((st.matrix > 0).mean()), math.e / st.w)


class Bloom(ArrayMerge):
    kind = "bloom"
    counts_fold = True
    ufunc = np.bitwise_or
    decode = staticmethod(BloomState.from_bytes)

    def __init__(self, **p):
        if "m" in p:
            self.p = {"m": p["m"], "k": p["k"]}
        else:
            m = params.bloom_filter_size(p["n"], p.get("eps", 0.01))
            self.p = {"m": m, "k": params.bloom_num_hashes(m, p["n"])}

    def init(self):
        return [bloom.new_state(self.p["m"]), 0]

    def update(self, acc, h1, h2, elems, weights):
        bloom.insert_batch(acc[0], h1, h2, self.p["k"], self.p["m"])  # OR
        acc[1] += _count(h1, weights)

    @staticmethod
    def probe(st, h1, h2):
        return bloom.lookup_batch(st.words, h1, h2, st.k, st.m)

    def finalize(self, acc):
        p = self.p
        return BloomState(p["m"], p["k"], acc[0], acc[1]).to_bytes(), acc[1]

    @staticmethod
    def info(st):
        return ({"m": st.m, "k": st.k, "n": st.n_items},
                bloom.positive_rate(st.words, st.k, st.m), float("nan"))


class TopK(Sketch):
    kind = "topk"
    counts_fold = True
    needs_elements = True
    decode = staticmethod(TopKState.from_bytes)

    def __init__(self, k=10, eps=0.0001, fail_prob=0.01, slack=4,
                 max_distinct=None, **_):
        d, w = params.cms_dims_from_error_bounds(eps, fail_prob)
        self.p = {"k": k, "d": d, "w": w, "slack": slack, "eps": eps,
                  "fail_prob": fail_prob, "max_distinct": max_distinct}

    def init(self):
        p = self.p
        counts = (topk.IntCounts if self.element in ("tokens", "int32", "int64")
                  else topk.BytesCounts)
        # max_distinct bounds phase-1 memory to O(cap) per partition for
        # near-unique columns: tail counts spill into the CMS
        return [counts(self.element, p["max_distinct"] or None, p["d"],
                       p["w"]), 0]

    def update(self, acc, h1, h2, elems, weights):
        if weights is None:
            acc[0].update(elems)
        else:
            acc[0].update_counts(elems, weights)
        acc[1] += _count(elems, weights)

    def finalize(self, acc):
        p, counts = self.p, acc[0]
        mat, total, cand = counts.finalize(p["k"], p["slack"], p["d"], p["w"])
        # only a partial that actually compacted carries inexact
        # candidate counts; a cap that never fired leaves the exact=True
        # read path valid
        st = TopKState(p["k"], p["eps"], p["fail_prob"],
                       CMSState(p["d"], p["w"], mat, total), cand,
                       capped=counts.compactions > 0)
        return st.to_bytes(), acc[1]

    @staticmethod
    def merge(states):
        head = states[0]
        mat = reduce(cms.merge, (s.cms.matrix for s in states))
        tot = sum(s.cms.all_sum for s in states)
        cand = reduce(topk.merge_candidates, (s.candidates for s in states))
        return TopKState(head.k, head.error_rate, head.accuracy,
                         CMSState(head.cms.d, head.cms.w, mat, tot), cand,
                         capped=any(s.capped for s in states))

    @staticmethod
    def info(st):
        return ({"k": st.k, "candidates": len(st.candidates)},
                float(st.cms.all_sum), st.error_rate)


class TDigest(Sketch):
    """State: ``(means, weights, n_items, delta)`` in a ``GSKQ`` frame."""

    kind = "tdigest"
    needs_elements = True
    element_kinds = ("tokens", "int32", "int64", "float64")
    decode = staticmethod(tdigest.from_bytes)

    def __init__(self, delta=200.0, **_):
        self.p = {"delta": delta}

    def init(self):
        return [*tdigest.new_state(), 0]

    def update(self, acc, h1, h2, elems, weights):
        acc[0], acc[1] = tdigest.update_batch(acc[0], acc[1], elems,
                                              self.p["delta"])
        acc[2] += len(elems)

    def finalize(self, acc):
        return tdigest.to_bytes(acc[0], acc[1], acc[2], self.p["delta"]), \
            acc[2]

    @staticmethod
    def merge(states):
        delta = states[0][3]
        m, w = reduce(lambda a, b: tdigest.merge(a, b, delta),
                      (st[:2] for st in states))
        return m, w, sum(st[2] for st in states), delta

    @staticmethod
    def encode(st):
        return tdigest.to_bytes(*st)

    @staticmethod
    def info(st):
        m, _, n, delta = st
        return {"delta": delta, "n": int(n)}, float(len(m)), 1.0 / delta

    @classmethod
    def quantile(cls, st, qs):
        return tdigest.quantile(st[0], st[1], qs)


class KLL(Sketch):
    """State: a :class:`kernels.kll.KLL` in a ``GSKL`` frame."""

    kind = "kll"
    needs_elements = True
    element_kinds = TDigest.element_kinds
    decode = staticmethod(kll.KLL.from_bytes)

    def __init__(self, k=200, seed=42, **_):
        self.p = {"k": k, "seed": seed}

    def init(self):
        return [kll.KLL(self.p["k"], self.p["seed"]), 0]

    def update(self, acc, h1, h2, elems, weights):
        acc[0].update_batch(elems)
        acc[1] += len(elems)

    def finalize(self, acc):
        return acc[0].to_bytes(), acc[1]

    @staticmethod
    def merge(states):
        return reduce(kll.KLL.merge, states)

    @staticmethod
    def info(st):
        return ({"k": st.k, "n": int(st.n)},
                float(sum(len(lv) for lv in st.levels)), 1.0 / st.k)

    @classmethod
    def quantile(cls, st, qs):
        return st.quantile(qs)


class Cuckoo(Sketch):
    """Decode and info only: the kick loop is order-dependent, so a
    cuckoo filter is built per shard (``agg.cuckoo_build``), never
    merged."""

    kind = "cuckoo"
    algo = "murmur3"
    decode = staticmethod(CuckooState.from_bytes)

    def __init__(self, **_):
        raise ValueError("cuckoo filters are not mergeable: build them with"
                         " cuckoo_build")

    @staticmethod
    def probe(st, h1, h2):
        return st.filter().lookup_hashes(h1)

    @staticmethod
    def info(st):
        return ({"size": st.size, "bucket_size": st.bucket_size,
                 "fp_len": st.fp_len, "length": st.length},
                st.length / (st.size * st.bucket_size),
                st.filter().positive_rate())


REGISTRY: dict[str, type[Sketch]] = {
    s.kind: s for s in (HLL, CMS, Bloom, TopK, TDigest, KLL, Cuckoo)}


def lookup(blob) -> type[Sketch]:
    """The registry entry of a serialized state, from its leading bytes;
    ``state.SketchFormatError`` when they name no kind."""
    return REGISTRY[kind_of(blob)]


def decode(blob):
    return lookup(blob).decode(bytes(blob))


_ARRAY_KINDS = [s for s in REGISTRY.values() if issubclass(s, ArrayMerge)]


def merge_runs(states, starts: np.ndarray, carry: list | None = None):
    """Merge every run of a batch's state column (an Arrow binary array;
    run i is rows ``[starts[i], starts[i+1])``; its kind is its first
    frame's), run 0 after ``carry``, the open run this returned for the
    previous batch. Returns the merged frames of every run but the
    last, in order, as an Arrow binary array, and the last run's open
    ``[sketch entry, state]``: a frame with no entry for HLL, CMS and
    Bloom, a decoded state for the others (KLL's compaction counter is
    not in its frame)."""
    import pyarrow as pa
    data, off = binary_buffers(states)
    ends = np.append(starts[1:], len(states))
    first = lead_kinds(data, off[starts], off[starts + 1])
    # the merged runs' indices and frames, one part per kind and set
    runs, frames = [np.zeros(0, np.int64)], [pa.array([], pa.binary())]
    for sk in _ARRAY_KINDS:
        idx = np.flatnonzero(first == sk.kind)
        lens = ends[idx] - starts[idx]
        local = np.cumsum(lens) - lens
        rows = np.arange(lens.sum()) + np.repeat(starts[idx] - local, lens)
        for sub, p, payload, count in sk.reduce_runs(
                data, off[rows], off[rows + 1], local, rows):
            runs.append(idx[sub])
            frames.append(binary_array(*write_frames(sk.kind, p, count,
                                                     payload)))
    last, tail, encoded = len(starts) - 1, None, []
    folded = np.setdiff1d(np.arange(len(starts)), np.concatenate(runs))
    for g in folded.tolist():
        blobs = states.slice(starts[g], ends[g] - starts[g]).to_pylist()
        sk = lookup(blobs[0])
        sts = [sk.decode(b) for b in blobs]
        if g == 0 and carry:
            sts.insert(0, carry[1])
        st = sk.merge(sts)
        if g == last:
            tail = [sk, st]
        else:
            encoded.append(sk.encode(st))
    runs.append(folded[:len(encoded)])  # all but an open last run
    frames.append(pa.array(encoded, pa.binary()))
    merged = pa.concat_arrays(frames).take(
        pa.array(np.argsort(np.concatenate(runs))))
    if carry and carry[0] is None:  # a carried frame: merged into run 0's
        merged = pa.concat_arrays([pa.array(
            [merge([carry[1], merged[0].as_py()])], pa.binary()),
            merged.slice(1)])
    return merged.slice(0, last), tail or [None, merged[last].as_py()]


def close(run: list) -> bytes:
    """An open run of :func:`merge_runs` as its merged frame."""
    sk, st = run
    return st if sk is None else sk.encode(st)


def merge(blobs) -> bytes:
    """Fold serialized states of one kind with its merge law, in order:
    :func:`merge_runs` over one run."""
    import pyarrow as pa
    return close(merge_runs(pa.array([bytes(b) for b in blobs], pa.binary()),
                            np.zeros(1, np.int64))[1])
