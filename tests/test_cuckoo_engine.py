"""The cuckoo engine: packed hash partials per (partition, key?, shard),
then sorted (key?, shard) runs through one ``mapInArrow`` per shuffle
partition, for the build, the removals and the probe joins.

Each distributed result is compared with the local kernel over the same
elements in input order: partition order, then row order."""
from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from gostatix_spark import hashing, params
from gostatix_spark.agg import (cuckoo_apply_removals, cuckoo_build,
                                extract_hashes)
from gostatix_spark.kernels.cuckoo import CuckooFilter
from gostatix_spark.query import cuckoo_contains, cuckoo_contains_join
from gostatix_spark.state import CuckooState, sketch_from_bytes

N_ROWS = 3600
N_SHARDS = 4
SIZE = 256  # 900 elements per 1024-slot shard: the kick loop runs
FP_LEN = params.cuckoo_fingerprint_length(SIZE, 0.01)


def _build(df, value_col="v", **kw):
    return cuckoo_build(df, value_col, element="string", size=SIZE,
                        fp_len=FP_LEN, n_shards=N_SHARDS, **kw)


def _h1(values) -> np.ndarray:
    return extract_hashes(pa.array(values, pa.string()), "string",
                          "murmur3")[0]


def _local_states(values) -> dict[int, bytes]:
    """Shard → state of the local kernel over ``values`` in order."""
    h1 = _h1(values)
    shard = hashing.shard_of(h1, N_SHARDS)
    out = {}
    for s in range(N_SHARDS):
        f = CuckooFilter(SIZE, 4, FP_LEN, 500, seed=42)
        f.bulk_insert_hashes(h1[shard == s])
        out[s] = CuckooState(SIZE, 4, FP_LEN, 500, f.length,
                             f.buckets).to_bytes()
    return out


def _docs(spark):
    return spark.range(N_ROWS).select(
        F.concat(F.lit("doc_"), F.col("id").cast("string")).alias("v"),
        F.col("id"))


def _by_key(rows, key_cols=("shard",)) -> dict:
    return {tuple(r[c] for c in key_cols): (bytes(r["state"]), r["n_items"])
            for r in rows}


@pytest.mark.parametrize("layout", ["coalesce1", "range4"])
def test_build_equals_local_kernel_in_row_order(spark, layout):
    df = _docs(spark)
    df = (df.coalesce(1) if layout == "coalesce1"
          else df.repartitionByRange(4, "id")).cache()
    try:
        # collect returns partition order, then row order: the order the
        # build inserts in
        values = [r["v"] for r in df.collect()]
        got = _by_key(_build(df).collect())
        want = _local_states(values)
        assert sorted(got) == [(s,) for s in range(N_SHARDS)]
        for s in range(N_SHARDS):
            assert got[(s,)][0] == want[s], s
        assert sum(n for _, n in got.values()) == N_ROWS
    finally:
        df.unpersist()


def test_keyless_build_over_empty_input_emits_every_shard(spark):
    empty = spark.createDataFrame([], "v string")
    rows = _build(empty).collect()
    empty_state = CuckooState(SIZE, 4, FP_LEN, 500, 0, np.zeros(
        (SIZE, 4), np.uint64)).to_bytes()
    assert sorted(r["shard"] for r in rows) == list(range(N_SHARDS))
    assert all(r["n_items"] == 0 and bytes(r["state"]) == empty_state
               for r in rows)


def _keyed(spark):
    """Four range partitions of 100 rows: ``only_p0`` lives in partition
    0 only, ``lonely`` is one row in partition 2, and every 7th row of
    the rest has a null key."""
    return spark.range(0, 400, 1, 4).select(
        F.concat(F.lit("doc_"), F.col("id").cast("string")).alias("v"),
        F.expr("CASE WHEN id < 100 THEN 'only_p0'"
               " WHEN id = 250 THEN 'lonely'"
               " WHEN id % 7 = 0 THEN NULL"
               " ELSE concat('k', id % 3) END").alias("key"))


def test_keyed_build_emits_every_key_and_shard(spark):
    df = _keyed(spark)
    got = _by_key(_build(df, key_col="key").collect(), ("key", "shard"))
    rows = df.collect()  # range partitions: partition order, row order
    keys = {r["key"] for r in rows}
    assert None in keys and "lonely" in keys
    assert set(got) == set(itertools.product(keys, range(N_SHARDS)))
    for key in keys:
        want = _local_states([r["v"] for r in rows if r["key"] == key])
        for s in range(N_SHARDS):
            assert got[(key, s)][0] == want[s], (key, s)
        assert sum(got[(key, s)][1] for s in range(N_SHARDS)) \
            == sum(r["key"] == key for r in rows)
    # the lonely key's single element leaves three shards empty
    assert sorted(got[("lonely", s)][1] for s in range(N_SHARDS)) \
        == [0, 0, 0, 1]


def _pipeline(spark):
    """Build (keyed), remove a third, probe members and non-members."""
    df = _keyed(spark)
    states = _build(df, key_col="key")
    removals = df.where("int(substr(v, 5)) % 3 = 0")
    after = cuckoo_apply_removals(states, removals, "v", n_shards=N_SHARDS,
                                  key_col="key", element="string")
    keyless = _build(df)
    probes = df.select("v").union(spark.range(50).select(
        F.concat(F.lit("miss_"), F.col("id").cast("string")).alias("v")))
    joined = cuckoo_contains_join(keyless, probes, "v", n_shards=N_SHARDS,
                                  element="string")
    return (_by_key(states.collect(), ("key", "shard")),
            _by_key(after.collect(), ("key", "shard")),
            sorted((r["v"], r["contained"]) for r in joined.collect()))


def test_runs_span_arrow_batches(spark):
    want = _pipeline(spark)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        # one row per Arrow batch: every run of partials, of removal
        # hashes and of probes continues across batches
        got = _pipeline(spark)
    finally:
        spark.conf.set(key, old)
    assert got == want


def test_removals_count_what_they_remove(spark):
    df = _keyed(spark)
    states = _build(df, key_col="key").cache()
    try:
        before = _by_key(states.collect(), ("key", "shard"))
        # a third of the elements, each twice, plus elements that were
        # never inserted, and a key the build never saw
        third = df.where("int(substr(v, 5)) % 3 = 0")
        removals = (third.union(third)
                    .union(spark.range(40).select(
                        F.concat(F.lit("absent_"),
                                 F.col("id").cast("string")).alias("v"),
                        F.lit("k1").alias("key")))
                    .union(spark.range(5).select(
                        F.concat(F.lit("doc_"),
                                 F.col("id").cast("string")).alias("v"),
                        F.lit("ghost").alias("key"))))
        # the removal frame: partition order, then row order
        rem = removals.collect()
        got = _by_key(cuckoo_apply_removals(
            states, removals, "v", n_shards=N_SHARDS, key_col="key",
            element="string").collect(), ("key", "shard"))
    finally:
        states.unpersist()
    assert set(got) == set(before)  # nothing for the ghost key
    n_removed = 0  # a removal may also take a colliding fingerprint
    for (key, s), (blob, n_items) in before.items():
        h1 = _h1([r["v"] for r in rem if r["key"] == key])
        h1 = h1[hashing.shard_of(h1, N_SHARDS) == s]
        st = sketch_from_bytes(blob)
        f = CuckooFilter(st.size, st.bucket_size, st.fp_len, st.retries,
                         buckets=st.buckets, length=st.length)
        removed = int(f.bulk_remove_hashes(h1).sum())
        want = CuckooState(st.size, st.bucket_size, st.fp_len, st.retries,
                           f.length, f.buckets).to_bytes()
        assert got[(key, s)] == (want, n_items - removed), (key, s)
        n_removed += removed
    assert n_removed >= third.count()


def test_removals_to_a_missing_state_change_nothing(spark):
    df = _docs(spark)
    states = _build(df).where("shard != 2")
    before = {r["shard"]: r["n_items"] for r in states.collect()}
    after = cuckoo_apply_removals(states, df, "v", n_shards=N_SHARDS,
                                  element="string").collect()
    # shard 2's removals have no state to apply to: no row, no error
    assert sorted(r["shard"] for r in after) == [0, 1, 3]
    assert all(r["n_items"] < before[r["shard"]] for r in after)


def test_probe_join_without_a_shard_reads_false(spark):
    df = _docs(spark)
    states = _build(df)
    full = {r["shard"]: bytes(r["state"]) for r in states.collect()}
    probes = df.select("v").union(spark.range(200).select(
        F.concat(F.lit("miss_"), F.col("id").cast("string")).alias("v")))
    got = {r["v"]: r["contained"] for r in cuckoo_contains_join(
        states.where("shard != 1"), probes, "v", n_shards=N_SHARDS,
        element="string").collect()}
    want = {r["v"]: r["hit"] for r in probes.withColumn(
        "hit", cuckoo_contains(spark, full, F.col("v"), "string",
                               n_shards=N_SHARDS)).collect()}
    assert len(got) == len(want) == N_ROWS + 200
    shard = dict(zip(want, hashing.shard_of(_h1(list(want)), N_SHARDS)))
    for v, hit in got.items():
        assert hit == (want[v] and shard[v] != 1), v
    assert any(shard[v] == 1 and want[v] for v in want)


def test_an_element_too_short_for_a_fingerprint_fails_the_build(spark):
    """``""`` hashes to h1 = 0, one decimal digit: ``getPositions``
    errors for it, so the build raises the typed error, which counts the
    offending elements and names the first h1."""
    df = spark.createDataFrame([("",), ("a",)], "v string")
    with pytest.raises(Exception, match=r"FingerprintLengthError: "
                       r"fingerprint length \d+ .* of 1 element\(s\); "
                       r"the first has h1 0"):
        _build(df).collect()


def test_an_element_too_short_for_a_fingerprint_is_never_found(spark):
    df = _docs(spark)
    states = {r["shard"]: bytes(r["state"]) for r in _build(df).collect()}
    probes = spark.createDataFrame([("",), ("doc_1",), ("miss",)], "v string")
    got = {r["v"]: r["hit"] for r in probes.withColumn(
        "hit", cuckoo_contains(spark, states, F.col("v"), "string",
                               n_shards=N_SHARDS)).collect()}
    assert got[""] is False and got["doc_1"] is True
    joined = {r["v"]: r["contained"] for r in cuckoo_contains_join(
        _build(df), probes, "v", n_shards=N_SHARDS,
        element="string").collect()}
    assert joined == got
