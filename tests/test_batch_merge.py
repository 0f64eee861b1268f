"""The one phase-2 merge (``sketches.merge_runs``) against the
per-partial reference: decode every partial, fold the kernel merge (HLL,
CMS, Bloom) or the registry merge (Top-K, t-digest, KLL) left to right,
encode. Every run of a batch merges there, whatever its kind, and the
open last run carries into the next batch, so states, ``n_items`` and
``n_partials`` must match byte for byte whatever the frame versions,
register counts, batch cuts and neighbouring kinds. Corrupt frames must
raise ``ValueError`` naming the row, and ``hll_estimate`` must equal
``hll.count`` per state."""

import glob
import tempfile
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gostatix_spark import sketches
from gostatix_spark.agg import (_build_partials, _merge_partials, _sketch_job,
                                sketch_agg)
from gostatix_spark.checkpoint import checkpointed_sketch_agg, write_partials
from gostatix_spark.kernels import bloom, cms, hll, kll, tdigest
from gostatix_spark.query import hll_estimate
from gostatix_spark.state import (BloomState, CMSState, HLLState, TopKState,
                                  hll_top)

BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"
KERNEL_MERGE = {"hll": hll.merge, "cms": cms.merge, "bloom": bloom.merge}


def reference_merge(blobs: list[bytes]) -> bytes:
    """Decode each partial, fold the kernel merge in order, encode."""
    kind = sketches.lookup(blobs[0]).kind
    sts = [sketches.decode(b) for b in blobs]
    if kind == "hll":
        regs = reduce(hll.merge, (s.registers for s in sts))
        return HLLState(sts[0].m, regs, sum(s.n_items for s in sts)).to_bytes()
    if kind == "cms":
        mat = reduce(cms.merge, (s.matrix for s in sts))
        return CMSState(sts[0].d, sts[0].w, mat,
                        sum(s.all_sum for s in sts)).to_bytes()
    if kind == "bloom":
        words = reduce(bloom.merge, (s.words for s in sts))
        return BloomState(sts[0].m, sts[0].k, words,
                          sum(s.n_items for s in sts)).to_bytes()
    sk = sketches.lookup(blobs[0])  # Top-K, t-digest, KLL: registry fold
    return sk.encode(sk.merge(sts))


def reference_rows(partials, key_cols):
    """``{key: (state, n_items, n_partials)}`` from collected partials,
    each key's partials folded in ``partition_id`` order."""
    runs = {}
    for r in partials.collect():
        runs.setdefault(tuple(r[c] for c in key_cols), []).append(
            (r["partition_id"], bytes(r["state"]), r["n_items"]))
    out = {}
    for key, rows in runs.items():
        rows.sort(key=lambda t: t[0])
        out[key] = (reference_merge([b for _, b, _ in rows]),
                    sum(n for _, _, n in rows), len(rows))
    return out


def merged_rows(df, key_cols):
    return {tuple(r[c] for c in key_cols):
            (bytes(r["state"]), r["n_items"], r["n_partials"])
            for r in df.collect()}


def _hll(rng, m, nnz, n_items=3):
    regs = np.zeros(m, np.uint8)
    regs[rng.choice(m, nnz, replace=False)] = rng.integers(1, 40, nnz)
    return HLLState(m, regs, n_items)


# ---------------------------------------------------------------------------
# the registry, without Spark
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("m", [16, 256, 4096])
@pytest.mark.parametrize("frames", ["sparse", "dense", "mixed"])
def test_hll_merge_equals_reference(m, frames):
    rng = np.random.default_rng(m)
    sts = [_hll(rng, m, int(rng.integers(0, m // 5 if frames == "sparse"
                                         else m)), i) for i in range(12)]
    sparse = {"sparse": [True] * 12, "dense": [False] * 12,
              "mixed": [i % 3 == 0 for i in range(12)]}[frames]
    blobs = [s.to_bytes(sparse=sp) for s, sp in zip(sts, sparse)]
    versions = {b[9] for b in blobs}
    assert versions == {"sparse": {2}, "dense": {1}, "mixed": {1, 2}}[frames]
    assert sketches.merge(blobs) == reference_merge(blobs)


def test_cms_and_bloom_merge_equal_reference():
    rng = np.random.default_rng(5)
    for blobs in (
            [CMSState(3, 37, rng.integers(0, 1 << 40, (3, 37)).astype(
                np.uint64), 11).to_bytes() for _ in range(7)],
            [BloomState(1000, 4, rng.integers(0, 1 << 63, 16).astype(
                np.uint64), 9).to_bytes() for _ in range(7)]):
        assert sketches.merge(blobs) == reference_merge(blobs)


@pytest.mark.parametrize("lc", [True, False])
def test_count_runs_equals_count_of_merged_registers(lc):
    """``HLL.count_runs`` estimates each run of states as the count of
    its registerwise max, without writing a merged frame; runs of one
    are ``count_frames``."""
    rng = np.random.default_rng(9)
    blobs, starts, want = [], [], []
    for r in range(40):
        m = (64, 1024)[r % 2]
        sts = [_hll(rng, m, int(rng.integers(0, m)))
               for _ in range(int(rng.integers(1, 5)))]
        starts.append(len(blobs))
        blobs += [s.to_bytes(sparse=bool(rng.integers(2))) for s in sts]
        want.append(hll.count(reduce(hll.merge, (s.registers for s in sts)),
                              linear_counting=lc))
    arr = pa.array(blobs, pa.binary())
    got = sketches.HLL.count_runs(arr, np.array(starts), lc)
    assert got.tolist() == want
    assert sketches.HLL.count_frames(arr, lc).tolist() == [
        hll.count(HLLState.from_bytes(b).registers, linear_counting=lc)
        for b in blobs]


def test_merge_runs_between_other_kinds():
    """Array-merge runs of several kinds and sizes sit between Top-K,
    t-digest and KLL runs; every run gets its reference frame, the last
    one through its open ``[entry, state]``. A batch cut inside a run
    and resumed through ``carry`` gives the uncut frame, whatever the
    kind."""
    rng = np.random.default_rng(3)

    def tdigest_blob():
        m, w = tdigest.update_batch(*tdigest.new_state(),
                                    rng.normal(size=20), 100.0)
        return tdigest.to_bytes(m, w, 20, 100.0)

    def kll_blob():
        s = kll.KLL(50, 1)
        s.update_batch(rng.normal(size=20))
        return s.to_bytes()

    def topk_blob():
        return TopKState(3, 0.01, 0.01, CMSState(
            2, 8, rng.integers(0, 9, (2, 8)).astype(np.uint64), 5),
            {b"a": 2}).to_bytes()

    makers = [
        lambda: _hll(rng, 16, int(rng.integers(0, 16))).to_bytes(
            sparse=bool(rng.integers(2))),
        topk_blob,
        lambda: CMSState(2, 9, rng.integers(0, 50, (2, 9)).astype(np.uint64),
                         4).to_bytes(),
        tdigest_blob,
        lambda: BloomState(128, 3, rng.integers(0, 1 << 63, 2).astype(
            np.uint64), 2).to_bytes(),
        kll_blob,
        lambda: _hll(rng, 4096, int(rng.integers(0, 900))).to_bytes(
            sparse=bool(rng.integers(2))),
    ]
    blobs, starts, want = [], [], []
    for run in range(21):
        make = makers[run % len(makers)]
        starts.append(len(blobs))
        blobs += [make() for _ in range(int(rng.integers(2, 6)))]
        want.append(reference_merge(blobs[starts[-1]:]))
    frames, last = sketches.merge_runs(pa.array(blobs, pa.binary()),
                                       np.array(starts))
    assert frames.to_pylist() + [sketches.close(last)] == want
    for run, lo in enumerate(starts[:len(makers)]):
        hi = starts[run + 1]
        for cut in range(lo + 1, hi):
            _, head = sketches.merge_runs(
                pa.array(blobs[lo:cut], pa.binary()), np.zeros(1, np.int64))
            frames, last = sketches.merge_runs(
                pa.array(blobs[cut:hi + 2], pa.binary()),
                np.array([0, hi - cut]), head)
            assert frames.to_pylist() == [want[run]]
            assert sketches.close(last) == reference_merge(blobs[hi:hi + 2])


def test_merged_frames_past_int32_offsets_raise(monkeypatch):
    """Merged frames that int32 Arrow offsets cannot address raise
    ``ValueError`` instead of wrapping; the limit is lowered here so
    that four 282-byte frames pass it."""
    from gostatix_spark import state
    rng = np.random.default_rng(4)
    blobs = pa.array([_hll(rng, 256, 20).to_bytes() for _ in range(4)],
                     pa.binary())
    frames, last = sketches.merge_runs(blobs, np.arange(4))
    assert len(frames) == 3 and last[0] is None  # and one open frame
    monkeypatch.setattr(state, "_MAX_BINARY", 1000)
    with pytest.raises(ValueError, match="exceed one Arrow binary array"):
        sketches.merge_runs(blobs, np.arange(4))


def test_saturated_hll_reads_minus_one(spark):
    """A raw estimate at or past 2³² is outside the large-range
    correction's domain: ``count``, ``count_many`` and ``hll_estimate``
    all return −1 instead of raising or returning INT64_MIN."""
    full = np.full(16, 30, np.uint8)
    assert hll.count(full) == -1
    assert hll.count_many(np.stack([full, np.zeros(16, np.uint8)])).tolist() \
        == [-1, 0]
    df = spark.createDataFrame([(HLLState(16, full, 1).to_bytes(),)],
                               "state binary")
    assert hll_estimate(df).collect()[0]["est_distinct"] == -1


# ---------------------------------------------------------------------------
# corrupt frames fail loudly
# ---------------------------------------------------------------------------


def _corrupt_runs():
    rng = np.random.default_rng(8)
    good = [_hll(rng, 256, 20).to_bytes(sparse=True) for _ in range(3)]
    out_of_range = bytearray(good[1])
    out_of_range[26:30] = (256).to_bytes(4, "little")  # first sparse index
    high = np.zeros(256, np.uint8)
    high[7] = 200  # past the top rank of m=256 (58)
    return {
        "truncated": ([good[0], good[1][:-3], good[2]], "row 1"),
        "index": ([good[0], good[2], bytes(out_of_range)],
                  "row 2: sparse hll index out of range"),
        "two_m": ([good[0], _hll(rng, 512, 20).to_bytes(sparse=True)],
                  "row 1: hll parameters differ within one run"),
        "dense_register": ([good[0], HLLState(256, high, 3).to_bytes(),
                            good[2]], "row 1: hll register out of range"),
    }


@pytest.mark.parametrize("case", ["truncated", "index", "two_m",
                                  "dense_register"])
def test_corrupt_frames_raise_through_merge(case):
    blobs, msg = _corrupt_runs()[case]
    with pytest.raises(ValueError, match=msg):
        sketches.merge(blobs)


def test_dense_register_out_of_range_raises_in_the_estimate():
    """``hll_estimate``'s batch reader checks dense registers too."""
    blobs, msg = _corrupt_runs()["dense_register"]
    with pytest.raises(ValueError, match=msg):
        sketches.HLL.count_frames(pa.array(blobs, pa.binary()))


@pytest.mark.parametrize("case", ["truncated", "index", "two_m",
                                  "dense_register"])
def test_corrupt_frames_raise_through_the_build_merge(spark, case):
    """The same frames as phase-1 partials of one key: the merge that
    ``sketch_agg`` runs raises the same ``ValueError``."""
    blobs, msg = _corrupt_runs()[case]
    partials = spark.createDataFrame(
        [("k", b, 1, pid, 1) for pid, b in enumerate(blobs)],
        "key string, state binary, n_items bigint, partition_id int,"
        " rows_consumed bigint")
    with pytest.raises(Exception, match=f"ValueError: sketch state {msg}"):
        _merge_partials(partials, ["key"]).collect()


# ---------------------------------------------------------------------------
# Spark builds, bytewise against the reference
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def skewed(spark):
    """Keys from a handful of rows (sparse HLL partials at every m) to
    tens of thousands (dense), plus null keys, over 8 partitions."""
    rng = np.random.default_rng(21)
    sizes = {"huge": 40_000, "big": 6_000, "mid": 400, "few": 12,
             "one": 1, None: 300}
    rows = [(k, int(v)) for k, n in sizes.items()
            for v in rng.integers(0, 1 << 40, n)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "key string, v bigint").repartition(8)
    df = df.cache()
    df.count()
    return df


@pytest.fixture
def tiny_batches(spark):
    old = spark.conf.get(BATCH)
    spark.conf.set(BATCH, "3")
    yield
    spark.conf.set(BATCH, old)


BUILDS = [("hll", {"m": 16}), ("hll", {"m": 256}), ("hll", {"m": 4096}),
          ("cms", {"d": 3, "w": 200}), ("bloom", {"m": 4096, "k": 3})]


def _check_build(skewed, kind, p, key_col, tree_fanout=None):
    cols = [key_col] if key_col else []
    partials = sketch_agg(skewed, kind, "v", key_col=key_col,
                          _return_partials=True, **p).cache()
    want = reference_rows(partials, cols)
    if kind == "hll":
        versions = {bytes(r["state"])[9] for r in partials.collect()}
        assert versions == {1, 2} if key_col else versions <= {1, 2}
    assert merged_rows(_merge_partials(partials, cols, tree_fanout),
                       cols) == want
    assert merged_rows(sketch_agg(skewed, kind, "v", key_col=key_col,
                                  tree_fanout=tree_fanout, **p), cols) == want
    partials.unpersist()


@pytest.mark.parametrize("kind,p", BUILDS)
def test_keyed_build_matches_reference(spark, skewed, kind, p):
    _check_build(skewed, kind, p, "key")


@pytest.mark.parametrize("kind,p", BUILDS)
def test_runs_across_tiny_batches_match_reference(spark, skewed,
                                                  tiny_batches, kind, p):
    _check_build(skewed, kind, p, "key")


@pytest.mark.parametrize("kind,p", [BUILDS[1], BUILDS[3], BUILDS[4]])
def test_keyless_and_tree_builds_match_reference(spark, skewed,
                                                 tiny_batches, kind, p):
    _check_build(skewed, kind, p, None)
    _check_build(skewed, kind, p, "key", tree_fanout=3)


def test_tree_topk_matches_flat_in_content(spark, skewed, tiny_batches):
    """A Top-K tree merge (``tree_fanout=3``) folds the partials in
    another order than the flat merge: its candidates may come out in
    another order, so it is compared decoded — the candidate counts as
    a dict, and the CMS — not byte for byte."""
    p = {"k": 5, "eps": 0.01, "slack": 4}
    flat = merged_rows(sketch_agg(skewed, "topk", "v", key_col="key", **p),
                       ["key"])
    tree = merged_rows(sketch_agg(skewed, "topk", "v", key_col="key",
                                  tree_fanout=3, **p), ["key"])
    assert flat.keys() == tree.keys()
    for key, (blob, n, parts) in flat.items():
        a, b = TopKState.from_bytes(blob), TopKState.from_bytes(tree[key][0])
        assert (n, parts) == tree[key][1:]
        assert a.candidates == b.candidates and a.cms.equals(b.cms), key


@pytest.mark.parametrize("kind,p", [("tdigest", {"delta": 100.0}),
                                    ("kll", {"k": 200})])
def test_tree_quantiles_match_flat_within_rank_error(spark, skewed,
                                                     tiny_batches, kind, p):
    """t-digest and KLL merges are not bytewise tree-invariant (KLL's
    compaction coin depends on the merge order); flat and tree builds
    must both answer quantiles within 0.02 in rank."""
    values = {}
    for key, v in skewed.collect():
        values.setdefault(key, []).append(v)
    qs = np.linspace(0.05, 0.95, 19)
    for fanout in (None, 3):
        got = merged_rows(sketch_agg(skewed, kind, "v", key_col="key",
                                     tree_fanout=fanout, **p), ["key"])
        for (key,), (blob, n, _) in got.items():
            exact = np.sort(values[key])
            if len(exact) < 100:  # ranks of a few rows move in 1/n steps
                continue
            sk = sketches.lookup(blob)
            est = sk.quantile(sk.decode(blob), qs)
            rank = np.searchsorted(exact, est, side="right") / len(exact)
            assert n == len(exact)
            assert np.abs(rank - qs).max() <= 0.02, (kind, fanout, key)


@pytest.mark.parametrize("kind,p", [BUILDS[0], BUILDS[2], BUILDS[4]])
def test_checkpoint_dedup_matches_reference(spark, skewed, tiny_batches,
                                            kind, p):
    partials = sketch_agg(skewed, kind, "v", key_col="key",
                          _return_partials=True, **p).cache()
    want = reference_rows(partials, ["key"])
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ckpt"
        write_partials(partials, path, kind, snapshot_id=1)
        write_partials(partials, path, kind, snapshot_id=2)
        got = checkpointed_sketch_agg(skewed, kind, "v", key_col="key",
                                      checkpoint_path=path, **p)
        assert merged_rows(got, ["key"]) == want
    partials.unpersist()


def test_resume_after_small_snapshot_id_matches_direct_build(spark, skewed):
    """A checkpoint whose first snapshot has an explicit small id is
    written as bigint like a time-based one, reads back under that
    schema and resumes to the direct bytes."""
    p = {"m": 256}
    want = merged_rows(sketch_agg(skewed, "hll", "v", key_col="key", **p),
                       ["key"])
    early = sketch_agg(skewed, "hll", "v", key_col="key",
                       _return_partials=True, **p).where("partition_id < 3")
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ckpt"
        write_partials(early, path, "hll", snapshot_id=1)
        got = checkpointed_sketch_agg(skewed, "hll", "v", key_col="key",
                                      checkpoint_path=path, **p)
        assert {k: v[0] for k, v in merged_rows(got, ["key"]).items()} \
            == {k: v[0] for k, v in want.items()}
        files = glob.glob(f"{path}/*.parquet")
        assert len(files) > 1
        assert {str(pq.read_schema(f).field("snapshot_id").type)
                for f in files} == {"int64"}


@pytest.mark.parametrize("kind,p", [("tdigest", {"delta": 100.0}),
                                    ("kll", {"k": 64}), ("topk", {"k": 5}),
                                    ("hll", {"m": 256})])
def test_open_run_carries_across_batch_cuts(spark, skewed, kind, p):
    """Phase 2 does not depend on where the Arrow batches cut the runs:
    partials built once merge, keyed and keyless, to the same bytes at
    the session's batch rows and at 3 and 2 rows per batch. t-digest and
    KLL carry their open run as a decoded state; Top-K and HLL are
    controls. The partials are built once and cached because t-digest
    and KLL *phase-1* partials do depend on the batch size (each batch
    compresses or compacts on its own), so a build rerun at another
    batch size, as in ``test_merge_stream.py``'s
    ``test_runs_across_batch_boundaries``, changes them before phase 2
    runs."""
    for key_col in ("key", None):
        cols = [key_col] if key_col else []
        partials = _build_partials(skewed, [_sketch_job(
            skewed, kind, "v", key_col, None, p)]).cache()
        partials.count()
        old, got = spark.conf.get(BATCH), []
        try:
            for rows in (old, "3", "2"):
                spark.conf.set(BATCH, rows)
                got.append(merged_rows(_merge_partials(partials, cols), cols))
        finally:
            spark.conf.set(BATCH, old)
        partials.unpersist()
        assert max(n for _, _, n in got[0].values()) == 8  # runs span batches
        assert got[0] == got[1] == got[2], key_col


def test_multi_sketch_partition_mixes_kinds(spark, skewed, tiny_batches):
    """One shuffle partition holds every job's runs, sorted by name, so
    HLL/CMS/Bloom runs sit between Top-K, t-digest and KLL runs."""
    jobs = [("a_topk", "topk", {"k": 3}), ("b_hll", "hll", {"m": 16}),
            ("c_tdigest", "tdigest", {}), ("d_cms", "cms", {"d": 2, "w": 64}),
            ("e_kll", "kll", {"k": 64}), ("f_bloom", "bloom",
                                          {"m": 512, "k": 2}),
            ("g_hll", "hll", {"m": 4096})]
    df = skewed.withColumn("x", F.col("v").cast("double"))
    built = _build_partials(df, [
        _sketch_job(df, kind, "v" if kind in ("topk", "hll", "cms", "bloom")
                    else "x", "key", None, p, name=name)
        for name, kind, p in jobs]).cache()
    want = reference_rows(built, ["sketch_name", "key"])
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        got = merged_rows(_merge_partials(built, ["sketch_name", "key"]),
                          ["sketch_name", "key"])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert {name for name, _ in got} == {name for name, _, _ in jobs}
    assert got == want
    built.unpersist()


def test_hll_estimate_equals_count_per_state(spark):
    """10k states of several fills and two register counts, sparse and
    dense frames, saturated ones included."""
    rng = np.random.default_rng(17)
    rows, want = [], []
    for i in range(10_000):
        m = (64, 1024)[i % 2]
        st = _hll(rng, m, int(rng.integers(0, m)))
        if i % 997 == 0:
            st.registers[:] = hll_top(m)  # saturated: every rank at the top
        rows.append((i, st.to_bytes(sparse=bool(i % 3))))
        want.append(hll.count(st.registers))
    assert -1 in want
    df = spark.createDataFrame(rows, "i int, state binary").repartition(4)
    got = {r["i"]: r["est_distinct"] for r in hll_estimate(df).collect()}
    assert [got[i] for i in range(10_000)] == want
    lc = hll_estimate(df, linear_counting=False).collect()
    assert {r["i"]: r["est_distinct"] for r in lc}[1] == hll.count(
        HLLState.from_bytes(rows[1][1]).registers, linear_counting=False)
