"""Two-phase distributed sketch aggregation — the heart of the library.

Topology (SURVEY.md §3, §4.2). One engine serves :func:`sketch_agg`,
:func:`multi_sketch_agg`, :func:`bloom_build_sharded` (keyed by shard),
checkpointed builds and the streaming sink; every per-kind step is a
lookup into the registry in ``sketches.py``.

* **Phase 1 (partial)** — ``DataFrame.mapInArrow``: each input partition
  streams through as Arrow record batches; each batch is folded into
  every requested sketch's per-(partition, key) state. Output: ONE tiny
  row per partition per sketch per key ``(key, state binary, n_items,
  partition_id, rows_consumed)``. This is map-side combine: whatever
  the row/key skew of the input, the shuffle that follows carries only
  ``O(num_partitions × num_keys)`` sketch-sized rows — skew-immune by
  construction.
* **Phase 2 (merge)** — a sorted stream: the partials are hash
  partitioned by key, sorted within each shuffle partition by (key,
  ``partition_id``), and one ``mapInArrow`` call per shuffle partition
  folds each run of equal keys with the sketch's merge law (max for
  HLL, add for CMS, OR for Bloom; proven associative/commutative in
  tests). ``sketches.merge_runs`` merges every run of an Arrow batch:
  HLL, CMS and Bloom runs straight from the serialized partials (no
  per-partial decode, a few elementwise passes over the batch), Top-K,
  t-digest and KLL runs decoded and folded run by run. The last run
  stays open and carries into the next batch until the key changes, so
  a call costs one batch plus one open state whatever its key count,
  and order-sensitive merges (t-digest, KLL, Top-K) always fold in
  partition order. For very wide fan-in,
  ``tree_fanout`` first merges per (key, ``partition_id %
  tree_fanout``). The tree shape changes the fold order: HLL, CMS and
  Bloom (elementwise max, add, OR) still give the flat merge's bytes;
  Top-K gives the same candidate counts and CMS, its candidates perhaps
  in another order; t-digest and KLL (whose compaction coin follows a
  counter the frame does not store) give other bytes within the same
  rank error. Phase 1 is not batch-invariant for those two either: each
  Arrow batch compresses (t-digest) or compacts (KLL) on its own, so
  their partials, and the merged bytes, depend on
  ``spark.sql.execution.arrow.maxRecordsPerBatch``.

The cuckoo filter is NOT mergeable (order-dependent kick loop,
``cuckoo_filter.go:74-115``) — see :func:`cuckoo_build`. It runs on the
same sorted stream: phase 1 only *hashes* elements (pure, parallel,
vectorized) and packs each partition's hashes per (key, shard) into one
partial row, empty shards included; phase 2 sorts the partials by
(key, shard, ``partition_id``) and builds each shard with one
sequential-kernel call over its hashes in input order. Removals and the
shard-routed probe joins stream one union of state rows and hash rows,
sorted so each shard's state row comes first. Sharding is the scale
path: membership routes to the owning shard by the same hash, so N
shards build and probe in parallel.

Element extraction is Arrow-native: list columns are flattened via
offset arithmetic (zero-copy), strings/binaries hashed through
length-grouped fixed-width matrices, and ``token_array`` rows become
one binary array of their encodings. No per-row Python anywhere.
Integer elements (``tokens``/``int32``) feeding HLL, CMS, Bloom (sharded
Bloom too) or Top-K are reduced per batch to distinct (key, value) pairs
with counts first, so hashing and folding cost O(distinct), not
O(elements).
"""

from __future__ import annotations

import warnings
from typing import Container, Iterable, Iterator, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (BinaryType, IntegerType, LongType, StringType,
                               StructField, StructType)

from gostatix_spark import hashing, params, sketches
from gostatix_spark.kernels import cuckoo, hll, topk
from gostatix_spark.sketches import Sketch as _Spec
from gostatix_spark.sketches import merge as merge_sketch_states
from gostatix_spark.state import CuckooState, binary_array, binary_buffers

__all__ = ["sketch_agg", "multi_sketch_agg", "cuckoo_build",
           "cuckoo_apply_removals", "bloom_build_sharded",
           "merge_sketch_states"]


# ---------------------------------------------------------------------------
# Arrow extraction helpers
# ---------------------------------------------------------------------------


def _arrow_list_ints(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(flat int values, int64 offsets) for a list<int> Arrow array. A
    null row is an empty list, and a null item inside a list is dropped
    from its row, as a null element is never folded."""
    lengths = pa.compute.list_value_length(arr).to_numpy(zero_copy_only=False)
    lengths = np.nan_to_num(lengths, nan=0).astype(np.int64)
    values = arr.flatten()
    if values.null_count:
        valid = values.is_valid()
        row = np.repeat(np.arange(len(arr)), lengths)
        lengths = np.bincount(row[valid.to_numpy(zero_copy_only=False)],
                              minlength=len(arr))
        values = values.filter(valid)
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    return values.to_numpy(zero_copy_only=False), offsets


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
        values, offsets = binary_buffers(arr)
        h1, h2 = hashing.hash_var_bytes(values, offsets, algo)
        return h1, h2, ident
    raise ValueError(f"unknown element kind {element!r}")


def element_values(arr: pa.Array, element: str):
    """Raw element values for exact counting (Top-K candidates) and the
    quantile sketches: a flat int numpy array for int-like kinds,
    float64 values, else an Arrow array that ``topk.BytesCounts``
    counts in C++: strings and binaries as they are, ``token_array``
    rows as one binary array of their canonical encodings."""
    if element == "tokens":
        values, _ = _arrow_list_ints(arr)
        return values.astype(np.int64)
    if element in ("int32", "int64"):
        return arr.to_numpy(zero_copy_only=False).astype(np.int64)
    if element == "float64":
        return arr.to_numpy(zero_copy_only=False).astype(np.float64)
    if element in ("string", "binary"):
        return arr
    if element == "token_array":  # each row's array as big-endian u32s
        values, offsets = _arrow_list_ints(arr)
        return binary_array(values.astype(">u4"), offsets * 4)
    raise ValueError(f"unknown element kind {element!r}")


def _take(elems, sel: np.ndarray | None):
    """Group-select from hashes or whatever :func:`element_values`
    returned: numpy fancy-index or Arrow take. ``None`` (nothing to
    select from, or select everything) passes ``elems`` through."""
    if elems is None or sel is None:
        return elems
    if isinstance(elems, np.ndarray):
        return elems[sel]
    return elems.take(pa.array(sel, type=pa.int64()))


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
# phase 1: one mapInArrow pass for every sketch job
# ---------------------------------------------------------------------------


class _Job(NamedTuple):
    """One sketch to build. ``name`` is None for :func:`sketch_agg`'s
    single job, whose partials keep the typed key column. A job with
    ``n_shards`` (only :func:`bloom_build_sharded`'s) is keyed by shard:
    its keys are ``range(n_shards)`` and each element's key is
    ``hashing.shard_of(h1, n_shards)``."""

    name: str | None
    spec: _Spec
    value_col: str
    key_col: str | None
    weight_col: str | None = None
    n_shards: int = 0


def _sketch_job(df: DataFrame, kind: str, value_col: str, key_col: str | None,
                element: str | None, params: dict, name: str | None = None,
                weight_col: str | None = None, n_shards: int = 0) -> _Job:
    spec = _Spec.make(kind, **params)
    spec.element = infer_element(df, value_col, element)
    if spec.element not in spec.element_kinds:
        raise ValueError(f"{kind} sketches cannot fold {spec.element!r}"
                         f" elements (column {value_col!r})")
    return _Job(name, spec, value_col, key_col, weight_col, n_shards)


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

    def valid(self, vcol: str) -> "_Batch":
        """The rows whose ``vcol`` is not null, as a batch of their own:
        a null element is never folded."""
        return self._get(("valid", vcol), lambda: _Batch(
            self.batch.filter(self.batch.column(vcol).is_valid())))

    def keys(self, kcol: str):
        """(codes, uniques, rows per key); null keys get code -1. Arrow
        factorizes the column, so int64 keys stay exact beside nulls
        (a pandas column with nulls would turn them into floats)."""
        def compute():
            enc = self.batch.column(kcol).dictionary_encode()
            codes = enc.indices.fill_null(-1).to_numpy(
                zero_copy_only=False).astype(np.int64)
            uniques = enc.dictionary.to_pylist()
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
        caller then folds another way. Cached per key column too: the
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


def _fold_batch(b: _Batch, i: int, job: _Job, accs: dict, rows: dict,
                keyed: hll.KeyedHLL | None) -> None:
    """Fold one batch into job ``i``'s per-key accumulators
    ``accs[(i, key)]`` and add each key's input rows to ``rows[(i,
    key)]``; rows with a null key are dropped, and every shard of a
    sharded job counts all of the batch's rows. The batch picks the
    path:

    * the distinct-first fold, when the job folds counts (see
      :meth:`Sketch.folds_distinct`) and the batch's (key, value) grid
      is dense;
    * else ``keyed``, the job's :class:`kernels.hll.KeyedHLL` when it is
      a keyed HLL: one vectorized update for all keys;
    * else per element.

    Both the distinct-first and the per-element path end in one update
    per key; a sharded job groups either path's hashes by shard.
    Null elements are skipped after their rows are counted; a key whose
    elements are all null still gets a state, an empty one."""
    spec, vcol, kcol = job.spec, job.value_col, job.key_col
    if job.n_shards:
        keys, row_counts = range(job.n_shards), [b.num_rows] * job.n_shards
    elif kcol is None:
        keys, row_counts = [None], [b.num_rows]
    else:
        _, keys, row_counts = b.keys(kcol)
    for key, n_rows in zip(keys, row_counts):
        rows[(i, key)] = rows.get((i, key), 0) + int(n_rows)
    if b.batch.column(vcol).null_count:
        for key in keys:
            accs.setdefault((i, key), spec.init())
        b = b.valid(vcol)
        if not b.num_rows:
            return
        if kcol is not None:
            keys = b.keys(kcol)[1]
    dist = None
    if job.weight_col is None and spec.folds_distinct():
        dist = b.distinct(kcol, vcol, spec.element, spec.algo)
    if dist is not None:
        bounds, elems, welems, h1, h2 = dist  # counts weigh the values
        sels = [slice(lo, hi) for lo, hi in zip(bounds[:-1], bounds[1:])]
    else:
        if spec.needs_elements:
            # Top-K counts exact values and t-digest/KLL take raw values:
            # nothing is hashed here
            h1 = h2 = None
            elems = b.elements(vcol, spec.element)
            rowmap = b.rowmap(vcol) if spec.element == "tokens" else None
        else:
            h1, h2, rowmap = b.hashes(vcol, spec.element, spec.algo)
            elems = None
        if keyed is not None:
            codes = b.keys(kcol)[0]
            ecodes = codes if rowmap is None else codes[rowmap]
            keep = ecodes >= 0
            keyed.update(keys, ecodes[keep], h1[keep])
            return
        welems = None
        if job.weight_col is not None:
            wvals = b.batch.column(job.weight_col) \
                .to_numpy(zero_copy_only=False).astype(np.float64)
            # tokens explode per row: each token carries its row's weight
            welems = wvals if rowmap is None else wvals[rowmap]
        if kcol is None:
            sels = [None]
        else:
            order, bounds = b.groups(kcol, vcol, rowmap)
            sels = [order[bounds[g]:bounds[g + 1]] for g in range(len(keys))]
    if job.n_shards:  # keyless: route the elements by shard
        shard = hashing.shard_of(h1, job.n_shards)
        order = np.argsort(shard, kind="stable")
        bounds = np.searchsorted(shard[order], np.arange(job.n_shards + 1))
        sels = [order[lo:hi] for lo, hi in zip(bounds[:-1], bounds[1:])]
    for key, sel in zip(keys, sels):
        spec.update(accs.setdefault((i, key), spec.init()), _take(h1, sel),
                    _take(h2, sel), _take(elems, sel), _take(welems, sel))


def _partial_key(df: DataFrame, jobs: list[_Job]):
    """The leading partial columns and a (job, key) → their values map:
    :func:`sketch_agg`'s typed key column, :func:`bloom_build_sharded`'s
    int ``shard``, or :func:`multi_sketch_agg`'s ``sketch_name`` and
    stringified ``key``."""
    kc = jobs[0].key_col
    if jobs[0].n_shards:
        return [StructField("shard", IntegerType(), False)], \
            lambda job, key: {"shard": key}
    if jobs[0].name is None:
        return ([df.schema[kc]] if kc else []), \
            lambda job, key: {kc: key} if kc else {}
    return ([StructField("sketch_name", StringType(), False),
             StructField("key", StringType(), True)],
            lambda job, key: {"sketch_name": job.name,
                              "key": None if key is None else str(key)})


def _build_partials(df: DataFrame, jobs: list[_Job],
                    skip_partitions: Container[int] = frozenset(),
                    checkpoint=None) -> DataFrame:
    """Phase 1: one scan folds every job; one partial row per (input
    partition, job, key), and one per shard of a sharded job even when
    the partition holds none of its elements. A partition in
    ``skip_partitions`` reads nothing and emits nothing. ``checkpoint``
    (see ``checkpoint.py``) publishes each task's partial rows with its
    ``publish(table)`` before the task emits them."""
    head, key_values = _partial_key(df, jobs)
    out_schema = StructType(head + [
        StructField("state", BinaryType(), False),
        StructField("n_items", LongType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("rows_consumed", LongType(), False)])
    arrow_schema = _to_arrow_schema(out_schema)
    cols = sorted({c for j in jobs
                   for c in (j.value_col, j.key_col, j.weight_col) if c})

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = _partition_id()
        if pid in skip_partitions:
            # resume path: this partition's partial is already checkpointed,
            # or a test hook dropped it (real deployments prune at the
            # source/manifest level instead)
            return
        # every shard of a sharded job is open from the start
        accs = {(i, s): j.spec.init() for i, j in enumerate(jobs)
                for s in range(j.n_shards)}
        rows = dict.fromkeys(accs, 0)
        keyed = {i: hll.KeyedHLL(j.spec.p["m"]) for i, j in enumerate(jobs)
                 if j.key_col and j.spec.kind == "hll"}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            b = _Batch(batch)
            for i, job in enumerate(jobs):
                _fold_batch(b, i, job, accs, rows, keyed.get(i))
        for i, kh in keyed.items():
            for key, regs, n_items in kh.states():
                acc = accs.setdefault((i, key), jobs[i].spec.init())
                np.maximum(acc[0], regs, out=acc[0])  # HLL accumulator
                acc[1] += n_items
        out = []
        for (i, key), acc in accs.items():
            blob, n_items = jobs[i].spec.finalize(acc)
            out.append({**key_values(jobs[i], key), "state": blob,
                        "n_items": n_items, "partition_id": pid,
                        "rows_consumed": rows[(i, key)]})
        if out:
            table = pa.Table.from_pylist(out, schema=arrow_schema)
            if checkpoint is not None:
                checkpoint.publish(table)
            yield from table.to_batches()

    return df.select(*cols).mapInArrow(fn, out_schema)


def _partition_id() -> int:
    from pyspark import TaskContext
    return TaskContext.get().partitionId() if TaskContext.get() else -1


def _to_arrow_schema(st: StructType) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema
    return to_arrow_schema(st)


# ---------------------------------------------------------------------------
# phase 2: one sorted-stream merge
# ---------------------------------------------------------------------------


def _run_starts(t: pa.RecordBatch, cols: list[str]) -> np.ndarray:
    """Whether each row starts a new run of equal ``cols`` values (null
    equals null); row 0 always does."""
    new = np.zeros(t.num_rows, dtype=bool)
    new[0] = True
    for c in cols:
        a, b = t.column(c).slice(1), t.column(c).slice(0, t.num_rows - 1)
        diff = pc.or_kleene(pc.not_equal(a, b),
                            pc.xor(pc.is_null(a), pc.is_null(b)))
        new[1:] |= diff.fill_null(False).to_numpy(zero_copy_only=False)
    return new


def _merge_runs(partials: DataFrame, run_cols: list[str],
                group_cols: list[str], dedup: bool = False) -> DataFrame:
    """One merged row per run of equal ``run_cols``. The rows are hash
    partitioned by ``group_cols``, sorted within each shuffle partition
    by ``run_cols`` and then by ``partition_id`` (or ``_salt``) where
    present, and streamed through one ``mapInArrow`` call per shuffle
    partition, whose fold cuts each batch into runs, drops a row whose
    run and ``partition_id`` equal the previous row's (``dedup``), adds
    up ``n_items`` and ``n_partials`` (or counts rows when there are
    none) and carries the open run that ``sketches.merge_runs``, which
    merges every run, returns until the key changes."""
    schema = StructType([partials.schema[c] for c in run_cols] + [
        StructField("state", BinaryType(), False),
        StructField("n_items", LongType(), False),
        StructField("n_partials", LongType(), False)])
    arrow_schema = _to_arrow_schema(schema)
    fan_in = "n_partials" if "n_partials" in partials.columns else None
    # fold order within a run: phase-1 partition, else tree-level salt
    order = [c for c in ("partition_id", "_salt")
             if c in partials.columns and c not in run_cols][:1]

    def closed(run: list) -> pa.RecordBatch:
        """The open run as one output row."""
        return _runs_batch([[k] for k in run[0]], [sketches.close(run[1])],
                           [run[2]], [run[3]], arrow_schema)

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # open run: [key, sketches.merge_runs' open run, n_items, n_in]
        run = None
        last_pid = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            new = _run_starts(batch, run_cols)
            new[0] = run is None or run[0] != tuple(
                batch.column(c)[0].as_py() for c in run_cols)
            if dedup:
                pid = batch.column("partition_id").to_numpy()
                dup = ~new
                dup[0] &= pid[0] == last_pid
                dup[1:] &= pid[1:] == pid[:-1]
                last_pid = pid[-1]
                batch, new = batch.filter(pa.array(~dup)), new[~dup]
                if batch.num_rows == 0:
                    continue
            if new[0] and run is not None:
                yield closed(run)
                run = None
            # runs: row 0 and each run start open one
            ends = np.append(np.flatnonzero(new[1:]) + 1, batch.num_rows)
            starts = np.insert(ends[:-1], 0, 0)
            n_items = np.add.reduceat(batch.column("n_items").to_numpy(),
                                      starts)
            n_in = (np.add.reduceat(batch.column(fan_in).to_numpy(), starts)
                    if fan_in else ends - starts)
            if run is not None:  # run 0 continues the open run
                n_items[0] += run[2]
                n_in[0] += run[3]
            frames, tail = sketches.merge_runs(batch.column("state"), starts,
                                               run and run[1])
            if len(starts) > 1:
                yield _runs_batch(
                    [batch.column(c).take(pa.array(starts[:-1]))
                     for c in run_cols],
                    frames, n_items[:-1], n_in[:-1], arrow_schema)
            run = [tuple(batch.column(c)[int(starts[-1])].as_py()
                         for c in run_cols),
                   tail, int(n_items[-1]), int(n_in[-1])]
        if run is not None:
            yield closed(run)

    parts = (partials.repartition(*group_cols) if group_cols
             else partials.repartition(1))
    if run_cols + order:
        parts = parts.sortWithinPartitions(*run_cols, *order)
    return parts.mapInArrow(fold, schema)


def _runs_batch(keys: list, states, n_items, n_partials,
                schema: pa.Schema) -> pa.RecordBatch:
    """Closed runs as one output batch: a column of keys per run
    column, then their states, ``n_items`` and ``n_partials``."""
    cols = [*keys, states, n_items, n_partials]
    return pa.RecordBatch.from_arrays(
        [c if isinstance(c, pa.Array) else pa.array(c, type=f.type)
         for c, f in zip(cols, schema)], schema=schema)


def _merge_partials(partials: DataFrame, key_cols: list[str],
                    tree_fanout: int | None = None,
                    dedup: bool = False) -> DataFrame:
    """Phase 2: one state per key. ``tree_fanout`` first merges within
    (key, ``partition_id % tree_fanout``). ``dedup`` keeps one partial
    per (key, ``partition_id``), for checkpoints that hold a partition
    twice."""
    if tree_fanout:
        salted = partials.withColumn(
            "_salt", (F.col("partition_id") % tree_fanout).cast("int"))
        partials = _merge_runs(salted, key_cols + ["_salt"],
                               key_cols + ["_salt"], dedup)
        dedup = False
    return _merge_runs(partials, key_cols, key_cols, dedup)


def _ignore_merge_buckets(merge_buckets: int | None) -> None:
    if merge_buckets is not None:
        warnings.warn("merge_buckets is ignored: phase 2 merges every key"
                      " of a shuffle partition in one call",
                      DeprecationWarning, stacklevel=3)


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
    max_distinct), ``tdigest`` (delta), ``kll`` (k, seed).
    element kinds: ``tokens`` (flatten array<int>), ``token_array``
    (whole array per row), ``int32``/``int64``/``string``/``binary``
    (inferred from the column type when omitted).

    ``topk`` + ``max_distinct=N``: bound phase-1 memory to O(N) per
    partition for near-unique element columns (URLs/doc ids at 10⁹
    rows) — when a partition tracks more than N distinct elements the
    count tail is compacted into the partial's CMS (see
    ``kernels.topk.Counts``), whatever the element kind. A build fails
    at the call when its element kind is one the sketch cannot fold
    (``Sketch.element_kinds``). Capped builds must be read with
    ``topk_values(exact=False)`` (the reference's CMS-estimate
    semantics); the ``exact=True`` fast path assumes uncapped counts.

    ``cms`` + ``weight_col=C``: each row adds ``C``, not 1 — the
    reference's ``Update(data, count)`` (``count_min_sketch.go:60``)
    vectorized. Because the CMS is linear in counts, building from a
    pre-aggregated ``(key, count)`` table equals building from the raw
    rows bit-for-bit — the one-scan path when an exact GROUP BY over
    the same input is needed anyway. Only ``cms`` is count-linear, so
    other kinds reject ``weight_col``.

    ``merge_buckets`` is accepted for compatibility and ignored: phase 2
    already merges every key of a shuffle partition in one call.
    """
    _ignore_merge_buckets(merge_buckets)
    if weight_col is not None and kind != "cms":
        raise ValueError(
            f"weight_col is only meaningful for kind='cms' (the"
            f" count-linear sketch; reference Update(data, count)) —"
            f" got kind={kind!r}")
    job = _sketch_job(df, kind, value_col, key_col, element, sketch_params,
                      weight_col=weight_col)
    partials = _build_partials(df, [job])
    if _return_partials:
        return partials
    return _merge_partials(partials, [key_col] if key_col else [],
                           tree_fanout)


def multi_sketch_agg(df: DataFrame, jobs: list[dict],
                     tree_fanout: int | None = None) -> DataFrame:
    """Build MANY sketches in ONE scan — the 100 TB shape: the input is
    read once, each Arrow batch is hashed once per distinct
    (column, element, algo) and folded into every requested sketch,
    through the same phase-1 fold as :func:`sketch_agg`.

    ``jobs``: list of dicts ``{name, kind, value_col, key_col?,
    element?, params?}``. Keys are stringified into a uniform ``key``
    column (null for global sketches). Returns
    ``DataFrame[sketch_name, key, state, n_items, n_partials]``.
    """
    partials = _build_partials(df, [
        _sketch_job(df, j["kind"], j["value_col"], j.get("key_col"),
                    j.get("element"), j.get("params", {}), name=j["name"])
        for j in jobs])
    return _merge_partials(partials, ["sketch_name", "key"], tree_fanout)


# ---------------------------------------------------------------------------
# the cuckoo engine: packed hash partials, then sorted (key?, shard) runs
# ---------------------------------------------------------------------------

# bytes of states or packed hashes per output Arrow batch
_FLUSH_BYTES = 1 << 26


def _hash_partials(df: DataFrame, value_col: str, key_col: str | None,
                   element: str, n_shards: int,
                   every_shard: bool) -> DataFrame:
    """Phase 1 of the cuckoo paths: one ``mapInArrow`` that hashes each
    batch and emits one packed partial per (partition, key?, shard):
    ``[key?, shard int, h1 binary, n_items long, partition_id int]``.
    ``h1`` holds the partial's murmur3 h1 values as little-endian
    uint64s in row order; ``shard = shard_of(h1, n_shards)``
    (splitmix-mixed — see :func:`gostatix_spark.hashing.shard_of`; raw
    ``h1 % n_shards`` would share low bits with the in-filter addressing
    ``i1 = h1 % size``, leaving only 1/n_shards of each shard's buckets
    reachable). ``every_shard`` also emits the empty partials: every
    shard of every key the partition saw, or of the build when it is
    keyless, so that every (key?, shard) the input owns gets a state.
    A null key is a key."""
    schema = StructType(
        ([df.schema[key_col]] if key_col else [])
        + [StructField("shard", IntegerType(), False),
           StructField("h1", BinaryType(), False),
           StructField("n_items", LongType(), False),
           StructField("partition_id", IntegerType(), False)])
    arrow_schema = _to_arrow_schema(schema)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = _partition_id()
        parts: dict = {}  # (key, shard) → h1 arrays in row order
        keys: dict = {} if key_col else {None: None}  # an ordered set
        for batch in batches:
            if batch.num_rows == 0:
                continue
            b = _Batch(batch)
            if key_col:  # every key seen, its elements null or not
                codes, uniques, _ = b.keys(key_col)
                keys.update(dict.fromkeys(uniques[c] if c >= 0 else None
                                          for c in np.unique(codes).tolist()))
            if batch.column(value_col).null_count:
                b = b.valid(value_col)  # a null element is never inserted
                if not b.num_rows:
                    continue
            h1, _, rowmap = b.hashes(value_col, element, sketches.Cuckoo.algo)
            codes, uniques = np.zeros(b.num_rows, np.int64), [None]
            if key_col:
                codes, uniques, _ = b.keys(key_col)
                uniques = uniques + [None]  # code -1, the null key
            group = (codes if rowmap is None else codes[rowmap]) * n_shards \
                + hashing.shard_of(h1, n_shards)
            order = np.argsort(group, kind="stable")
            ids, starts = np.unique(group[order], return_index=True)
            ends = np.append(starts[1:], len(order))
            for g, lo, hi in zip(ids.tolist(), starts, ends):
                parts.setdefault((uniques[g // n_shards], g % n_shards),
                                 []).append(h1[order[lo:hi]])
        if every_shard:
            for key in keys:
                for shard in range(n_shards):
                    parts.setdefault((key, shard), [])
        rows = []
        for (key, shard), arrays in parts.items():
            h = np.concatenate(arrays or [np.zeros(0)]).astype(
                "<u8", copy=False).view(np.uint8)
            rows.append(((key,) if key_col else ())
                        + (shard, h, len(h) // 8, pid))
        yield from _row_batches(rows, arrow_schema, "h1")

    return df.select(*(c for c in dict.fromkeys((key_col, value_col)) if c)) \
        .mapInArrow(fn, schema)


def _row_batches(rows: Iterable[tuple], schema: pa.Schema,
                 blob: str) -> Iterator[pa.RecordBatch]:
    """Rows (tuples in ``schema`` order) as Arrow batches holding about
    ``_FLUSH_BYTES`` of the bytes-like column ``blob`` each. That column
    is built by ``state.binary_array``, so a batch whose values pass
    int32 offsets raises instead of wrapping."""
    j = schema.get_field_index(blob)
    pending, size = [], 0
    for row in rows:
        pending.append(row)
        size += len(row[j])
        if size >= _FLUSH_BYTES:
            yield _rows_batch(pending, schema, j)
            pending, size = [], 0
    if pending:
        yield _rows_batch(pending, schema, j)


def _rows_batch(rows: list[tuple], schema: pa.Schema, j: int) -> pa.RecordBatch:
    cols = list(zip(*rows))
    lens = np.fromiter(map(len, cols[j]), np.int64, len(rows))
    arrays = [pa.array(c, type=f.type) if i != j else binary_array(
                  np.frombuffer(b"".join(c), np.uint8),
                  np.concatenate(([0], np.cumsum(lens))))
              for i, (c, f) in enumerate(zip(cols, schema))]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _run_pieces(batches: Iterator[pa.RecordBatch], cols: list[str]):
    """Cut a stream sorted by ``cols`` at each run start. Yields
    ``(piece, run key, new)`` where ``piece`` is a slice of one batch,
    the run key is its ``cols`` values as a tuple, and ``new`` tells
    whether the piece opens a run or continues the one before it, across
    batches too."""
    last = None
    for batch in batches:
        if batch.num_rows == 0:
            continue
        bounds = np.append(np.flatnonzero(_run_starts(batch, cols)),
                           batch.num_rows).tolist()
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            key = tuple(batch.column(c)[lo].as_py() for c in cols)
            yield batch.slice(lo, hi - lo), key, key != last
            last = key


def _runs(batches: Iterator[pa.RecordBatch], cols: list[str]):
    """``(run key, pieces)`` of each run of a stream sorted by ``cols``."""
    key, pieces = None, []
    for piece, k, new in _run_pieces(batches, cols):
        if new and pieces:
            yield key, pieces
            pieces = []
        key = k
        pieces.append(piece)
    if pieces:
        yield key, pieces


def _packed_hashes(pieces: list[pa.RecordBatch]) -> np.ndarray:
    """The uint64 hashes packed in the ``h1`` column of ``pieces``, in
    row order."""
    chunks = []
    for p in pieces:
        if p.num_rows:
            values, offsets = binary_buffers(p.column("h1"))
            chunks.append(values[offsets[0]:offsets[-1]])
    return np.concatenate(chunks or [np.zeros(0, np.uint8)]).view("<u8")


def _tagged_union(states: DataFrame, other: DataFrame,
                  group_cols: list[str]) -> DataFrame:
    """``states`` rows (``_side`` 0) and ``other`` rows (``_side`` 1) in
    one frame, hash partitioned by ``group_cols`` and sorted so that each
    run of equal ``group_cols`` starts with its state row, then the
    other side in ``partition_id`` order where it has one. Each side
    carries only its own columns; the other side's are null."""
    cols = {c: states.schema[c].dataType for c in states.columns}
    cols.update({c: other.schema[c].dataType for c in other.columns
                 if c not in cols})

    def side(df: DataFrame, tag: int) -> DataFrame:
        return df.select(F.lit(tag).cast("int").alias("_side"), *(
            (F.col(c) if c in df.columns else F.lit(None)).cast(t).alias(c)
            for c, t in cols.items()))

    order = ["partition_id"] if "partition_id" in cols else []
    return (side(states, 0).unionByName(side(other, 1))
            .repartition(*group_cols)
            .sortWithinPartitions(*group_cols, "_side", *order))


def _check_shards(n_shards: int) -> None:
    if n_shards < 1:
        raise ValueError(f"n_shards must be at least 1, got {n_shards}")


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

    Phase 1 (parallel, vectorized): one ``mapInArrow`` hashes every
    element and packs each partition's hashes per (key, shard) into one
    partial row. Phase 2: the partials are hash partitioned by (key,
    shard), sorted by (key, shard, ``partition_id``), and one
    ``mapInArrow`` call per shuffle partition concatenates each run's
    hashes and inserts them with one ``bulk_insert_hashes`` call. The
    kick loop depends on insertion order, and that order is the input's:
    partition order, then row order.

    ``n_shards > 1`` splits each key's filter into independent shards
    by ``shard_of(h1)``; lookups and removals route the same way
    (:func:`gostatix_spark.query.cuckoo_contains`,
    :func:`cuckoo_apply_removals`), so build, delete and probe
    parallelize across shards. Size is rounded to a power of two so the
    XOR partner map is involutive (policy SURVEY.md §1.6.5). Every
    (key, shard) emits a row even when empty: each input partition
    emits a partial for every shard of every key it holds (of the build,
    when keyless). An input with no partitions at all (``range(0)``, or
    a filter the optimizer proves empty) runs no task and emits nothing.

    ``size`` is the per-shard bucket count when given; else it is
    derived from the expected element count ``n`` (pass it when known —
    skips a full scan) or, as a last resort, from an auto ``df.count()``
    scan, split across shards at 0.955 load
    (``base_cuckoo_filter.go`` capacity policy).

    Returns ``DataFrame[key?, shard int, state binary, n_items]``.
    """
    _check_shards(n_shards)
    element = infer_element(df, value_col, element)
    if size is None:
        size = params.next_power_of_two(
            cuckoo_shard_size(n if n is not None else df.count(),
                              n_shards, bucket_size))
    else:
        size = params.next_power_of_two(size)
    if fp_len is None:
        fp_len = params.cuckoo_fingerprint_length(size, eps)

    run_cols = ([key_col] if key_col else []) + ["shard"]
    partials = _hash_partials(df, value_col, key_col, element, n_shards,
                              every_shard=True)
    schema = _cuckoo_schema(partials, key_col)
    arrow_schema = _to_arrow_schema(schema)

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        def states():
            for key, pieces in _runs(batches, run_cols):
                h1 = _packed_hashes(pieces)
                f = cuckoo.CuckooFilter(size, bucket_size, fp_len, retries,
                                        seed=seed)
                f.bulk_insert_hashes(h1)
                yield key + (CuckooState.of(f).to_bytes(), len(h1))
        yield from _row_batches(states(), arrow_schema, "state")

    return (partials.repartition(*run_cols)
            .sortWithinPartitions(*run_cols, "partition_id")
            .mapInArrow(build, schema))


def _cuckoo_schema(df: DataFrame, key_col: str | None) -> StructType:
    """``[key?, shard, state, n_items]``: cuckoo build output."""
    return StructType(
        ([df.schema[key_col]] if key_col else [])
        + [StructField("shard", IntegerType(), False),
           StructField("state", BinaryType(), False),
           StructField("n_items", LongType(), False)])


def cuckoo_apply_removals(states: DataFrame, removals: DataFrame,
                          value_col: str, *, n_shards: int,
                          key_col: str | None = None,
                          element: str | None = None) -> DataFrame:
    """Distributed ``Remove`` (``cuckoo_filter.go:128-144``) over a
    sharded build: hash the removal elements into packed partials per
    (partition, key?, shard), as :func:`cuckoo_build` does, and union
    them with the state rows, tagged by side. The union is hash
    partitioned by (key?, shard) and sorted so that each run opens with
    its state row, followed by its hashes in partition order; one
    ``mapInArrow`` call per shuffle partition applies the vectorized
    batch-remove kernel to each run. No element ever touches the
    driver.

    ``states`` is :func:`cuckoo_build` output; ``removals`` is any
    DataFrame with ``value_col`` (and ``key_col`` when the build was
    keyed). ``n_shards`` must equal the build's. Returns the same
    ``[key?, shard, state, n_items]`` shape with removals applied
    (``n_items`` decremented by the count actually removed — absent
    elements are no-ops, as in the reference). Removals routed to a
    (key?, shard) with no state row change nothing and emit nothing."""
    _check_shards(n_shards)
    element = infer_element(removals, value_col, element)
    run_cols = ([key_col] if key_col else []) + ["shard"]
    hashes = _hash_partials(removals, value_col, key_col, element, n_shards,
                            every_shard=False)
    schema = _cuckoo_schema(states, key_col)
    arrow_schema = _to_arrow_schema(schema)

    def apply(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        def states_out():
            for key, pieces in _runs(batches, run_cols):
                head = pieces[0]
                if head.column("_side")[0].as_py() != 0:
                    continue  # no state for this (key?, shard)
                f = CuckooState.from_bytes(
                    head.column("state")[0].as_py()).filter()
                side = [p.filter(pc.equal(p.column("_side"), 1))
                        for p in pieces]
                n_removed = int(f.bulk_remove_hashes(_packed_hashes(side))
                                .sum())
                yield key + (CuckooState.of(f).to_bytes(),
                             head.column("n_items")[0].as_py() - n_removed)
        yield from _row_batches(states_out(), arrow_schema, "state")

    return (_tagged_union(states.select(*run_cols, "state", "n_items"),
                          hashes.drop("n_items"), run_cols)
            .mapInArrow(apply, schema))


def bloom_build_sharded(df: DataFrame, value_col: str, *,
                        n: int, eps: float = 0.01,
                        element: str | None = None, n_shards: int = 8,
                        tree_fanout: int | None = None) -> DataFrame:
    """Sharded Bloom build (SURVEY.md §7.4.4): the scale path for
    filters too big for one driver/executor blob (n = 10⁹ at p = 0.01
    is ~1.2 GB). Each element belongs to shard ``shard_of(h1)``; each
    shard is an independent Bloom sized for ``n / n_shards`` expected
    elements at the same ``eps`` (total bits identical to the unsharded
    filter, same FPR). It runs on the shared two-phase engine, keyed by
    shard: phase 1 is ONE pass with map-side combine, the same fold as
    :func:`sketch_agg` (distinct-first over dense ``tokens``/``int32``
    batches), and every input partition emits one partial row per
    shard; phase 2 ORs per shard. Probe via
    :func:`gostatix_spark.query.bloom_contains_sharded`, which routes by
    the same rule — still no false negatives.

    Returns ``DataFrame[shard int, state, n_items, n_partials]``.
    """
    _check_shards(n_shards)
    n_per = max(1, -(-n // n_shards))
    m = params.bloom_filter_size(n_per, eps)
    k = params.bloom_num_hashes(m, n_per)
    job = _sketch_job(df, "bloom", value_col, None, element,
                      {"m": m, "k": k}, n_shards=n_shards)
    return _merge_partials(_build_partials(df, [job]), ["shard"],
                           tree_fanout)
