"""The phase-2 sorted-stream merge: one ``mapInArrow`` call per shuffle
partition folds each run of equal keys, carrying the open state across
Arrow batches. Its result must not depend on where the batches cut the
runs, it must drop checkpointed repeats of a partition exactly once, and
it must fold order-sensitive sketches in the same order every time."""

import glob
import os
import tempfile
import warnings

import pytest
from pyspark.sql import functions as F

from gostatix_spark.agg import multi_sketch_agg, sketch_agg
from gostatix_spark.checkpoint import (checkpointed_sketch_agg,
                                       completed_partitions, write_partials)
from gostatix_spark.corpus import corpus_df

BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"
PARAMS = {"hll": {"m": 1024}, "cms": {"d": 3, "w": 500},
          "topk": {"k": 5, "eps": 0.0001}}


@pytest.fixture(scope="module")
def corpus(spark):
    df = corpus_df(spark, 1200, seed=11, partitions=8).cache()
    df.count()
    return df


@pytest.fixture
def tiny_batches(spark):
    """Three rows per Arrow batch, so every key's run of partials spans
    several batches."""
    old = spark.conf.get(BATCH)
    spark.conf.set(BATCH, "3")
    yield
    spark.conf.set(BATCH, old)


def _rows(df, key_cols):
    return {tuple(r[c] for c in key_cols):
            (bytes(r["state"]), r["n_items"], r["n_partials"])
            for r in df.collect()}


def _builds(corpus, kind):
    """Keyed, keyless and null-key builds of one kind: ``sketch_agg``
    by source and over everything, and ``multi_sketch_agg`` with a
    keyed job beside a global one (its ``key`` is null)."""
    p = PARAMS[kind]
    return [
        (sketch_agg(corpus, kind, "tokens", key_col="source", **p),
         ["source"]),
        (sketch_agg(corpus, kind, "tokens", **p), []),
        (multi_sketch_agg(corpus, [
            {"name": "keyed", "kind": kind, "value_col": "tokens",
             "key_col": "source", "params": p},
            {"name": "global", "kind": kind, "value_col": "tokens",
             "params": p}]), ["sketch_name", "key"]),
    ]


@pytest.mark.parametrize("kind", sorted(PARAMS))
def test_runs_across_batch_boundaries(spark, corpus, kind):
    want = [_rows(df, cols) for df, cols in _builds(corpus, kind)]
    old = spark.conf.get(BATCH)
    spark.conf.set(BATCH, "3")
    try:
        got = [_rows(df, cols) for df, cols in _builds(corpus, kind)]
    finally:
        spark.conf.set(BATCH, old)
    assert any(None in key for key in want[2])  # the global job's null key
    for w, g in zip(want, got):
        assert min(n for _, _, n in w.values()) > 3  # runs span batches
        assert g == w


@pytest.mark.parametrize("key_col", ["source", None])
def test_checkpoint_dedup_across_batches(spark, corpus, tiny_batches,
                                         key_col):
    """A partition checkpointed under two snapshots merges once. CMS
    adds, so a partial counted twice would change the state."""
    p = PARAMS["cms"]
    want = sketch_agg(corpus, "cms", "tokens", key_col=key_col, **p)
    partials = sketch_agg(corpus, "cms", "tokens", key_col=key_col,
                          _return_partials=True, **p)
    cols = [key_col] if key_col else []
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ckpt"
        write_partials(partials, path, "cms", snapshot_id=1)
        write_partials(partials, path, "cms", snapshot_id=2)
        assert sorted(completed_partitions(spark, path, "cms")) \
            == list(range(8))
        got = checkpointed_sketch_agg(corpus, "cms", "tokens",
                                      checkpoint_path=path, key_col=key_col,
                                      **p)
        assert _rows(got, cols) == _rows(want, cols)


def test_order_sensitive_merges_repeat_bytewise(spark, corpus):
    """t-digest and KLL merges depend on their input order; the merge
    folds each key in partition order, so repeated builds agree."""
    df = corpus.withColumn("n", F.col("n_tok").cast("double")).repartition(7)
    jobs = [{"name": kind, "kind": kind, "value_col": "n",
             "key_col": "source"} for kind in ("tdigest", "kll")]
    runs = [_rows(multi_sketch_agg(df, jobs), ["sketch_name", "key"])
            for _ in range(3)]
    assert len(runs[0]) == 8
    assert runs[0] == runs[1] == runs[2]


def test_corrupt_checkpoint_raises(spark, corpus):
    """An unreadable checkpoint fails the build instead of being
    silently rebuilt from scratch."""
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ckpt"
        checkpointed_sketch_agg(corpus, "cms", "tokens", checkpoint_path=path,
                                key_col="source", **PARAMS["cms"]).collect()
        victim = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
        with open(victim, "r+b") as f:
            f.truncate(os.path.getsize(victim) // 2)
        files = sorted(os.listdir(path))
        with pytest.raises(Exception, match="(?i)parquet"):
            checkpointed_sketch_agg(corpus, "cms", "tokens",
                                    checkpoint_path=path, key_col="source",
                                    **PARAMS["cms"]).collect()
        assert sorted(os.listdir(path)) == files  # nothing rebuilt


def test_merge_buckets_is_ignored_with_a_warning(spark, corpus):
    from gostatix_spark.streaming import incremental_sketch_sink
    want = _rows(sketch_agg(corpus, "hll", "tokens", key_col="source",
                            m=256), ["source"])
    with pytest.warns(DeprecationWarning, match="merge_buckets"):
        got = sketch_agg(corpus, "hll", "tokens", key_col="source", m=256,
                         merge_buckets=4)
    assert _rows(got, ["source"]) == want
    with tempfile.TemporaryDirectory() as tmp, \
            pytest.warns(DeprecationWarning, match="merge_buckets"):
        incremental_sketch_sink("hll", "tokens", tmp, merge_buckets=4)
    with warnings.catch_warnings():
        warnings.simplefilter("error", DeprecationWarning)
        sketch_agg(corpus, "hll", "tokens", m=256)
