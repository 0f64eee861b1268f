"""Query surface over built sketch states.

Two flavors:

* **state-side** — turn a states DataFrame ``[key?, state, ...]`` into
  answers (``hll_estimate``, ``cms_counts``, ``topk_values``) with a
  UDF over the tiny state rows; stays distributed, never collects raw
  data.
* **probe-side** — test a big column against broadcast Bloom, cuckoo or
  CMS states (``bloom_contains``, ``cuckoo_contains``, ``cms_count_col``)
  or join it to them by shard (``*_contains_join``): the reference's
  ``Lookup``/``Count`` (``bloom_filter.go:188-215``,
  ``cuckoo_filter.go:118-125``, ``count_min_sketch.go:76-92``) per Arrow
  batch. Each hashes the batch with ``agg.extract_hashes`` and looks up
  with the sketch registry's ``probe``; a null is never found.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (ArrayType, BinaryType, BooleanType, DoubleType,
                               IntegerType, LongType, StringType, StructField,
                               StructType)

from gostatix_spark import hashing
from gostatix_spark.agg import (_run_pieces, _tagged_union, _to_arrow_schema,
                                extract_hashes, infer_element)
from gostatix_spark.kernels import bloom, topk
from gostatix_spark.sketches import CMS, HLL, REGISTRY, lookup
from gostatix_spark.state import BloomState, CMSState, TopKState

__all__ = ["hll_estimate", "hll_intersect_pairs", "cms_counts",
           "topk_values", "bloom_contains", "bloom_cardinality",
           "cms_inner_product",
           "bloom_contains_sharded", "bloom_contains_join",
           "cuckoo_contains", "cuckoo_contains_join", "cms_count_col",
           "quantiles", "sketch_info"]


# ---------------------------------------------------------------------------
# state-side queries
# ---------------------------------------------------------------------------


def _per_state(states: DataFrame, result_t, value,
               explode: bool = True) -> DataFrame:
    """``[key?, state, ...]`` → ``[key?, *fields]``: an Arrow UDF maps
    each serialized state to ``value(state)``, a struct of ``result_t``,
    or with ``explode`` an array of them, one row per element."""
    key_cols = [c for c in states.columns
                if c not in ("state", "n_items", "n_partials")]
    arrow_t = to_arrow_type(result_t)

    def per_state(blobs: pa.Array) -> pa.Array:  # a NaN reads null
        return pa.array([value(b) for b in blobs.to_pylist()], arrow_t,
                        from_pandas=True)
    per_state.__name__ = value.__name__  # the UDF's name in plans
    col = F.arrow_udf(per_state, result_t)(F.col("state"))
    fields = (result_t.elementType if explode else result_t).fieldNames()
    return (states.withColumn("_s", F.explode(col) if explode else col)
            .select(*key_cols, *(f"_s.{f}" for f in fields)))


def hll_estimate(states: DataFrame, out_col: str = "est_distinct",
                 linear_counting: bool = True) -> DataFrame:
    """[key?, state, ...] → [key?, est_distinct] (``hyperloglog.go:67-76``):
    an Arrow UDF that reads each batch's frames at once and estimates
    them with one ``hll.count_many`` call; a saturated sketch reads −1."""
    @F.arrow_udf(LongType())
    def est(blobs: pa.Array) -> pa.Array:
        return pa.array(HLL.count_frames(blobs, linear_counting))
    return states.withColumn(out_col, est(F.col("state")))


def hll_intersect_pairs(states: DataFrame, key_col: str,
                        linear_counting: bool = True,
                        pairs: DataFrame | None = None) -> DataFrame:
    """Pairwise distinct-intersection estimates between keyed HLL
    sketches by inclusion–exclusion: ``|A∩B| ≈ |A| + |B| − |A∪B|``,
    where the union sketch is the registerwise max (the ⊕-merge — the
    composition the mergeable design buys for free; the reference has
    no set algebra beyond merge, ``hyperloglog.go:103-112``).

    Output: ``[key_a, key_b, est_a, est_b, est_union, est_intersect,
    est_jaccard]`` (``est_jaccard`` = intersect/union — the
    sketch-level set-similarity signal). Error: each term carries the
    standard 1.04/√m relative error; RSS-combining gives
    ``σ_∩ ≈ (1.04/√m)·sqrt(|A|² + |B|² + |A∪B|²)`` — small-overlap
    pairs have large RELATIVE error (inclusion–exclusion's known
    weakness); gate accordingly (see q:hll_intersect_gate).

    **Pair selection — the scale knob.** With ``pairs=None`` the
    default compares EVERY unordered key pair: a states×states
    non-equi join (BroadcastNestedLoopJoin) — K²/2 pairs of KB blobs.
    Fine for handfuls of keys (event types); quadratic by construction
    at windowed-key scale (10⁴ keys ⇒ 5·10⁷ register merges). For that
    regime pass ``pairs`` — a ``[key_a, key_b]`` DataFrame naming the
    pairs to score (candidate pairs from an LSH pass, adjacent
    windows, a top-k key subset…): the work becomes two equi-joins +
    O(|pairs|) register math, shuffling only the requested rows.
    Every requested pair yields exactly one output row: a pair whose
    key has no sketch comes back with null estimates (LEFT joins), so
    missing keys are visible to the caller instead of silently
    dropped.

    Per Arrow batch, ``HLL.count_frames`` estimates each side's states,
    and ``HLL.count_runs`` the union, each pair's two states read as
    one run."""
    a = states.select(F.col(key_col).alias("key_a"),
                      F.col("state").alias("_sa"))
    b = states.select(F.col(key_col).alias("key_b"),
                      F.col("state").alias("_sb"))
    out_t = StructType([StructField("est_a", LongType()),
                        StructField("est_b", LongType()),
                        StructField("est_union", LongType()),
                        StructField("est_intersect", LongType())])

    @F.arrow_udf(out_t)
    def est(sa: pa.Array, sb: pa.Array) -> pa.Array:
        # a requested pair whose key had no sketch arrives with a null
        # state (LEFT join): score the others, and give it null estimates
        valid = pc.and_(sa.is_valid(), sb.is_valid())
        sa, sb = sa.filter(valid), sb.filter(valid)
        na = HLL.count_frames(sa, linear_counting)
        nb = HLL.count_frames(sb, linear_counting)
        # each pair's two states interleaved as one run, merged by max
        order = np.arange(2 * len(sa)).reshape(2, -1).T.ravel()
        nu = HLL.count_runs(pa.concat_arrays([sa, sb]).take(order),
                            np.arange(0, 2 * len(sa), 2), linear_counting)
        rows = valid.to_numpy(zero_copy_only=False)
        out = np.zeros((4, len(rows)), np.int64)
        out[:, rows] = na, nb, nu, na + nb - nu
        return pa.StructArray.from_arrays(
            [pa.array(col, mask=~rows) for col in out], out_t.fieldNames())

    if pairs is not None:
        joined = pairs.select("key_a", "key_b").join(a, "key_a", "left") \
                      .join(b, "key_b", "left")
    else:
        joined = a.join(b, F.col("key_a") < F.col("key_b"))
    return (joined
            .withColumn("_e", est("_sa", "_sb"))
            .select("key_a", "key_b", "_e.est_a", "_e.est_b",
                    "_e.est_union", "_e.est_intersect")
            .withColumn("est_jaccard",
                        F.when(F.col("est_union").isNull(),
                               F.lit(None).cast("double"))
                        .when(F.col("est_union") > 0,
                              F.col("est_intersect") / F.col("est_union"))
                        .otherwise(F.lit(0.0))))


def topk_values(states: DataFrame, out_elem: str = "element",
                out_count: str = "est_count", exact: bool = False,
                decode: str = "string") -> DataFrame:
    """[key?, state, ...] → exploded [key?, rank, element, est_count].

    ``decode``: 'string' (utf-8), 'int64'/'int32' (big-endian), 'binary'.
    """
    def dec(e: bytes):
        if decode == "string":
            return e.decode("utf-8", "replace")
        if decode in ("int64", "int32"):
            return int.from_bytes(e, "big", signed=True)
        return e
    elem_type = {"string": StringType(),
                 "binary": BinaryType()}.get(decode, LongType())

    result_t = ArrayType(StructType([
        StructField("rank", LongType()), StructField(out_elem, elem_type),
        StructField(out_count, LongType())]))

    def vals(b: bytes) -> list[dict]:
        st = TopKState.from_bytes(b)
        if exact and st.capped:
            raise ValueError(
                "topk_values(exact=True) on a capped (max_distinct) "
                "build: compaction flushed count tails into the CMS, "
                "so exact candidate sums undercount flushed-then-"
                "reappearing elements; read with exact=False (CMS "
                "re-estimation, the reference semantics)")
        rows = topk.final_values(st.cms.matrix, st.candidates, st.k,
                                 exact=exact)
        return [{"rank": i + 1, out_elem: dec(e), out_count: c}
                for i, (e, c) in enumerate(rows)]

    return _per_state(states, result_t, vals)


def cms_counts(states: DataFrame, items: list, element: str = "string",
               out_col: str = "est_count") -> DataFrame:
    """Point-query a fixed item list against every key's CMS state —
    returns exploded [key?, item, est_count]; a null item reads 0."""
    item_type = {"string": StringType(), "int64": LongType(),
                 "int32": LongType(), "binary": BinaryType()}[element]
    result_t = ArrayType(StructType([
        StructField("item", item_type), StructField(out_col, LongType())]))
    h1, h2, shard = _probe_hashes(pa.array(items, to_arrow_type(item_type)),
                                  element, CMS.algo, 1)

    def q(b: bytes) -> list[dict]:
        est = np.where(shard < 0, 0, CMS.probe(CMS.decode(b), h1, h2))
        return [{"item": it, out_col: c} for it, c in zip(items, est.tolist())]

    return _per_state(states, result_t, q)


def cms_inner_product(states_a: DataFrame, states_b: DataFrame,
                      out_col: str = "est_join_size") -> DataFrame:
    """Equi-join SIZE estimate from two CMS sketches over the join
    keys (Cormode–Muthukrishnan): ``⟨a,b⟩ ≈ min_d Σ_w a[d,w]·b[d,w]``
    — never underestimates, overestimate ≤ ε·‖a‖₁·‖b‖₁ w.p. ≥ 1−δ.
    The planner's use case: size a join from two KB-sized sketches
    without touching either table. Requires identical (d, w) — i.e.
    both built with the same ε/δ — and the same hash family, which
    this library fixes globally.

    Both inputs are single-state (or per-key, joined by the caller);
    the cross pair of sketch rows is KB×KB — never data-sized."""
    a = states_a.select(F.col("state").alias("_sa"))
    b = states_b.select(F.col("state").alias("_sb"))

    @F.arrow_udf(LongType())
    def est(sa: pa.Array, sb: pa.Array) -> pa.Array:
        vals = []
        for x, y in zip(sa.to_pylist(), sb.to_pylist()):
            ma, mb = CMSState.from_bytes(x), CMSState.from_bytes(y)
            if (ma.d, ma.w) != (mb.d, mb.w):
                raise ValueError(
                    f"CMS dims differ: {(ma.d, ma.w)} vs {(mb.d, mb.w)}")
            prod = (ma.matrix.astype(np.float64)
                    * mb.matrix.astype(np.float64)).sum(axis=1)
            vals.append(int(prod.min()))
        return pa.array(vals, pa.int64())

    return a.crossJoin(b).select(est("_sa", "_sb").alias(out_col))


def bloom_cardinality(states: DataFrame,
                      out_col: str = "est_items") -> DataFrame:
    """Swamidass–Baldi cardinality estimate from a Bloom filter's fill:
    ``n̂ = −(m/k)·ln(1 − X/m)`` with X set bits — recovers an item
    count from the bitset ALONE (no counter), e.g. after OR-merging
    filters whose item counts overlap (n_items would double-count
    shared elements; the fill does not). Saturated filters (X = m)
    return −1: the estimate diverges there by construction."""
    @F.arrow_udf(LongType())
    def est(blobs: pa.Array) -> pa.Array:
        vals = []
        for b in blobs.to_pylist():
            st = BloomState.from_bytes(b)
            # bits ≥ m are never set (positions are mod m), so a full
            # popcount of the backing words IS the fill count X
            x = bloom.bit_count(st.words)
            if x >= st.m:
                vals.append(-1)
            else:
                vals.append(round(-(st.m / st.k)
                                  * np.log1p(-x / st.m)))
        return pa.array(vals, pa.int64())

    return states.withColumn(out_col, est(F.col("state")))


def sketch_info(states: DataFrame) -> DataFrame:
    """[key?, state, ...] → per-state parameters and health metrics —
    the reference's accessor surface (``BloomPositiveRate``
    ``bloom_filter.go:228-231``, ``Accuracy`` ``base_hyperloglog.go:66``,
    ``CuckooPositiveRate`` ``base_cuckoo_filter.go:73-75``, CMS dims,
    ``allSum``) as one DataFrame."""
    info_t = StructType([
        StructField("kind", StringType()),
        StructField("params", StringType()),       # json
        StructField("fill_metric", DoubleType()),  # fpr / occupancy / etc
        StructField("accuracy", DoubleType()),
    ])

    def info(b: bytes) -> dict:
        sk = lookup(b)
        p, fill, accuracy = sk.info(sk.decode(b))
        return {"kind": sk.kind, "params": json.dumps(p),
                "fill_metric": fill, "accuracy": accuracy}

    return _per_state(states, info_t, info, explode=False)


def quantiles(states: DataFrame, qs: list[float],
              out_col: str = "quantile_value") -> DataFrame:
    """[key?, state, ...] → exploded [key?, q, quantile_value] for
    t-digest (GSKQ) or KLL (GSKL) states."""
    result_t = ArrayType(StructType([
        StructField("q", DoubleType()), StructField(out_col, DoubleType())]))

    def qf(b: bytes) -> list[dict]:
        sk = lookup(b)
        vals = sk.quantile(sk.decode(b), qs)
        return [{"q": float(q), out_col: float(v)} for q, v in zip(qs, vals)]

    return _per_state(states, result_t, qf)


# ---------------------------------------------------------------------------
# probe-side: test a big column against broadcast or joined states
# ---------------------------------------------------------------------------


def _probe_hashes(arr: pa.Array, element: str, algo: str, n_shards: int):
    """(h1, h2, shard) of each row of an Arrow probe column, the shard by
    ``shard_of(h1, n_shards)``, the sharded builds' routing rule. A null
    row is not hashed: its hashes are 0 and its shard is -1, which holds
    no state, so a null is never found."""
    valid = arr.is_valid() if arr.null_count else None
    h1, h2, rowmap = extract_hashes(
        arr if valid is None else arr.filter(valid), element, algo)
    if rowmap is not None:
        raise ValueError("probes need row-level element kinds")
    if valid is None:
        return h1, h2, hashing.shard_of(h1, n_shards)
    rows = valid.to_numpy(zero_copy_only=False)
    h, shard = np.zeros((2, len(arr)), np.uint64), np.full(len(arr), -1)
    h[:, rows], shard[rows] = (h1, h2), hashing.shard_of(h1, n_shards)
    return h[0], h[1], shard


def _broadcast_probe(spark: SparkSession, kind: str, blobs: list[bytes],
                     col: Column, element: str, out_type) -> Column:
    """``col`` probed against broadcast states of ``kind``, one per shard
    (``blobs[i]`` is shard i; one blob is the unsharded case). Per Arrow
    batch: hash the column under the kind's algorithm, route each row to
    its shard and look it up with the kind's ``probe`` in each shard the
    batch touches. A null reads ``False``, or a count of 0."""
    sk = REGISTRY[kind]
    bc = spark.sparkContext.broadcast(blobs)
    dtype = bool if isinstance(out_type, BooleanType) else np.int64

    @F.arrow_udf(out_type)
    def probe(arr: pa.Array) -> pa.Array:
        blobs = bc.value
        h1, h2, shard = _probe_hashes(arr, element, sk.algo, len(blobs))
        hit = np.zeros(len(arr), dtype)
        for s in np.unique(shard[shard >= 0]).tolist():
            rows = np.flatnonzero(shard == s)  # one mask scan, three gathers
            hit[rows] = sk.probe(sk.decode(blobs[s]), h1[rows], h2[rows])
        return pa.array(hit)

    return probe(col)


def bloom_contains(spark: SparkSession, state_blob: bytes, col: Column,
                   element: str) -> Column:
    """Vectorized membership predicate column against a broadcast Bloom
    state — the distributed analog of ``Lookup`` (``bloom_filter.go:188``).
    Use it to prefilter semi/anti joins; no false negatives."""
    return _broadcast_probe(spark, "bloom", [bytes(state_blob)], col,
                            element, BooleanType())


def _shard_mapping(shard_states, n_shards: int | None) -> list[bytes]:
    """Normalize/validate a shard→state mapping. Accepts a dict
    ``{shard_id: blob}`` (the safe form — build straight from
    ``cuckoo_build``/``bloom_build_sharded`` output rows, whose collect
    order is NOT shard order) or a list where index = shard id. Raises
    on missing shards: the builds emit a row per shard even when empty,
    so a gap means the caller dropped one — routing against a
    misaligned list would turn every probe into a silent false
    negative."""
    mapping = {int(k): bytes(v) for k, v in (
        shard_states.items() if isinstance(shard_states, dict)
        else enumerate(shard_states))}
    n_shards = len(mapping) if n_shards is None else n_shards
    missing = sorted(set(range(n_shards)) - set(mapping))
    extra = sorted(set(mapping) - set(range(n_shards)))
    if missing or extra:
        raise ValueError(
            f"shard states do not cover 0..{n_shards - 1}: "
            f"missing={missing} unexpected={extra}")
    return [mapping[i] for i in range(n_shards)]


def cuckoo_contains(spark: SparkSession, shard_states, col: Column,
                    element: str, *, n_shards: int | None = None) -> Column:
    """Membership against a sharded cuckoo build: shard =
    ``shard_of(h1, n_shards)`` (the build's routing rule —
    :func:`gostatix_spark.agg.cuckoo_build`), probe the owning shard's
    buckets. ``shard_states``: dict ``{shard: blob}`` or list indexed
    by shard id; pass ``n_shards`` explicitly to validate against the
    build (``cuckoo_filter.go:118-125`` lookup semantics, no false
    negatives)."""
    return _broadcast_probe(spark, "cuckoo",
                            _shard_mapping(shard_states, n_shards), col,
                            element, BooleanType())


def bloom_contains_sharded(spark: SparkSession, shard_states, col: Column,
                           element: str, *,
                           n_shards: int | None = None) -> Column:
    """Membership against a sharded Bloom build
    (:func:`gostatix_spark.agg.bloom_build_sharded`): route each probe
    by ``shard_of(h1)``, test the owning shard's bit array. Same
    no-false-negative guarantee as the single-blob probe; each
    broadcast blob is 1/n_shards the size (on a real cluster the shard
    states can also stay as a small joined table instead of a
    broadcast)."""
    return _broadcast_probe(spark, "bloom",
                            _shard_mapping(shard_states, n_shards), col,
                            element, BooleanType())


def cms_count_col(spark: SparkSession, state_blob: bytes, col: Column,
                  element: str) -> Column:
    """Per-row CMS frequency estimate column against a broadcast state
    (``count_min_sketch.go:76-92`` vectorized)."""
    return _broadcast_probe(spark, "cms", [bytes(state_blob)], col, element,
                            LongType())


def _contains_join(states: DataFrame, probes: DataFrame, value_col: str,
                   element: str | None, n_shards: int, kind: str,
                   out_col: str) -> DataFrame:
    """Shared shard-routed membership join, the probe path for filter
    sets too large to broadcast (e.g. 4096 cuckoo shards × GBs): the
    state rows and the probe hashes go into one union, tagged by side,
    hash partitioned by shard and sorted so that each shard's state row
    comes first; one ``mapInArrow`` call per shuffle partition looks up
    each shard's probes, batch by batch, against that state with the
    ``kind``'s registry ``probe``. Nothing is collected or broadcast. A
    probe whose shard has no state row (the states frame was filtered,
    or the probe is null) reads ``false``: nothing was inserted there.
    Returns ``[value_col, out_col]``, one row per probe."""
    sk = REGISTRY[kind]
    element = infer_element(probes, value_col, element)
    hash_schema = StructType([probes.schema[value_col],
                              StructField("h1", LongType(), False),
                              StructField("h2", LongType(), False),
                              StructField("shard", IntegerType(), False)])
    out_schema = StructType([probes.schema[value_col],
                             StructField(out_col, BooleanType(), False)])
    arrow_schema = _to_arrow_schema(out_schema)

    def hashes(batches):
        for batch in batches:
            arr = batch.column(value_col)
            h1, h2, shard = _probe_hashes(arr, element, sk.algo, n_shards)
            yield pa.RecordBatch.from_arrays(
                [arr, pa.array(h1.view(np.int64)), pa.array(h2.view(np.int64)),
                 pa.array(shard.astype(np.int32))],
                schema=_to_arrow_schema(hash_schema))

    def probe(batches):
        st = None
        for piece, _, new in _run_pieces(batches, ["shard"]):
            side = piece.column("_side")
            if new:
                st = (sk.decode(piece.column("state")[0].as_py())
                      if side[0].as_py() == 0 else None)
            rows = piece.filter(pc.equal(side, 1))
            if not rows.num_rows:
                continue
            h1, h2 = (rows.column(c).to_numpy(zero_copy_only=False)
                      .astype(np.int64).view(np.uint64) for c in ("h1", "h2"))
            hit = (sk.probe(st, h1, h2) if st is not None
                   else np.zeros(rows.num_rows, dtype=bool))
            yield pa.RecordBatch.from_arrays(
                [rows.column(value_col), pa.array(hit)], schema=arrow_schema)

    return (_tagged_union(states.select("shard", "state"),
                          probes.select(value_col).mapInArrow(hashes,
                                                              hash_schema),
                          ["shard"])
            .mapInArrow(probe, out_schema))


def cuckoo_contains_join(states: DataFrame, probes: DataFrame,
                         value_col: str, *, n_shards: int,
                         element: str | None = None,
                         out_col: str = "contained") -> DataFrame:
    """Broadcast-free cuckoo membership: route probes to shards by the
    build's rule and look up next to the shard's state — the scale path
    past ~10 GB of total filter state where :func:`cuckoo_contains`'s
    broadcast stops being viable. ``states`` is raw
    :func:`gostatix_spark.agg.cuckoo_build` (or
    ``cuckoo_apply_removals``) output — never collected."""
    return _contains_join(states, probes, value_col, element, n_shards,
                          "cuckoo", out_col)


def bloom_contains_join(states: DataFrame, probes: DataFrame,
                        value_col: str, *, n_shards: int,
                        element: str | None = None,
                        out_col: str = "contained") -> DataFrame:
    """Broadcast-free sharded-bloom membership (see
    :func:`cuckoo_contains_join`); ``states`` is raw
    :func:`gostatix_spark.agg.bloom_build_sharded` output."""
    return _contains_join(states, probes, value_col, element, n_shards,
                          "bloom", out_col)
