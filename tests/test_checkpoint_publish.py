"""The per-task checkpoint writer: each phase-1 task publishes its own
partial as one parquet file (temp name, then rename), so a job that
fails keeps every partition that finished, a fresh checkpointed build
runs as many Spark jobs as ``sketch_agg``, and a path pyarrow cannot
open fails before any job."""

import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from gostatix_spark.agg import sketch_agg
from gostatix_spark.checkpoint import (CheckpointParamsError,
                                       CheckpointPathError,
                                       checkpointed_sketch_agg,
                                       completed_partitions, write_partials)
from gostatix_spark.corpus import corpus_df

N_PARTS = 16
CMS = {"d": 3, "w": 500}


@pytest.fixture(scope="module")
def corpus(spark):
    df = corpus_df(spark, 1200, seed=7, partitions=N_PARTS).cache()
    df.count()
    return df


def _states(df, key_col="source"):
    return {r[key_col]: bytes(r["state"]) for r in df.collect()}


def _jobs_run(spark, action) -> int:
    """Spark jobs ``action()`` launches, counted in a job group of its
    own."""
    sc = spark.sparkContext
    group = f"ckpt-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_failed_job_keeps_finished_partitions(spark, corpus):
    """A real task failure (not a filter): partitions past 6 raise while
    their column is read. The job fails, yet the partitions that
    finished are published, and a resume over the good input recomputes
    only the others, to the uninterrupted bytes."""
    want = _states(sketch_agg(corpus, "cms", "tokens", key_col="source",
                              **CMS))
    bad = corpus.withColumn("tokens", F.when(
        F.spark_partition_id() > 6,
        F.raise_error(F.lit("injected task failure"))).otherwise(
            F.col("tokens")))
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ckpt"
        with pytest.raises(Exception, match="injected task failure"):
            checkpointed_sketch_agg(bad, "cms", "tokens",
                                    checkpoint_path=path, key_col="source",
                                    **CMS).collect()
        done = completed_partitions(spark, path, "cms")
        assert done and max(done) <= 6

        got = _states(checkpointed_sketch_agg(
            corpus, "cms", "tokens", checkpoint_path=path, key_col="source",
            **CMS))
        cp = spark.read.parquet(path)
        snapshots = {r["partition_id"]: r["n"] for r in cp.groupBy(
            "partition_id").agg(F.countDistinct("snapshot_id").alias("n"))
            .collect()}
        assert snapshots == {pid: 1 for pid in range(N_PARTS)}
        assert cp.agg(F.sum("rows_consumed")).first()[0] == corpus.count()
    assert got == want


def test_fresh_build_runs_as_many_jobs_as_sketch_agg(spark, corpus):
    with tempfile.TemporaryDirectory() as tmp:
        direct = _jobs_run(spark, lambda: sketch_agg(
            corpus, "hll", "tokens", key_col="source", m=1024).collect())
        ckpt = _jobs_run(spark, lambda: checkpointed_sketch_agg(
            corpus, "hll", "tokens", key_col="source", m=1024,
            checkpoint_path=f"{tmp}/ckpt").collect())
    assert direct > 0
    assert ckpt == direct


def test_one_file_per_partition_replaced_on_rerun(spark, corpus):
    """Files are named by (kind, snapshot, partition): running the same
    build again replaces each file rather than adding one, and no temp
    file is left behind."""
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ckpt"
        built = checkpointed_sketch_agg(corpus, "hll", "tokens",
                                        checkpoint_path=path, m=256)
        first = built.collect()
        names = sorted(os.listdir(path))
        assert built.collect() == first
        assert sorted(os.listdir(path)) == names
        assert len(names) == N_PARTS
        assert all(n.startswith("hll-") and n.endswith(
            f"-part-{i:05d}.parquet") for i, n in enumerate(names))
        assert {r["snapshot_id"] for r in
                spark.read.parquet(path).select("snapshot_id").collect()} \
            == {int(names[0].split("-")[1])}


@pytest.mark.parametrize("call", ["build", "write", "completed"])
def test_unsupported_uri_raises_before_any_job(spark, corpus, call):
    path = "s3a://bucket/sketches/ckpt"
    partials = sketch_agg(corpus, "hll", "tokens", m=256,
                          _return_partials=True)
    action = {
        "build": lambda: checkpointed_sketch_agg(
            corpus, "hll", "tokens", checkpoint_path=path, m=256),
        "write": lambda: write_partials(partials, path, "hll"),
        "completed": lambda: completed_partitions(spark, path, "hll"),
    }[call]

    def run():
        with pytest.raises(CheckpointPathError, match=path):
            action()

    assert _jobs_run(spark, run) == 0


def test_resume_with_other_parameters_is_refused(spark, corpus):
    """A resume whose parameters differ from the published partials'
    raises before phase 1, naming the path and both parameter sets, and
    publishes nothing; with the original parameters it still resumes."""
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ckpt"
        checkpointed_sketch_agg(corpus, "cms", "tokens", checkpoint_path=path,
                                key_col="source", fail_after_partition=3,
                                **CMS).collect()
        before = sorted(os.listdir(path))
        with pytest.raises(CheckpointParamsError,
                           match=r"ckpt holds cms partials of partitions "
                                 r"\[0, 1, 2, 3\] built with \{'d': 3, "
                                 r"'w': 500\}; this build has \{'d': 3, "
                                 r"'w': 64\}"):
            checkpointed_sketch_agg(corpus, "cms", "tokens",
                                    checkpoint_path=path, key_col="source",
                                    d=3, w=64)
        assert sorted(os.listdir(path)) == before
        got = _states(checkpointed_sketch_agg(
            corpus, "cms", "tokens", checkpoint_path=path, key_col="source",
            **CMS))
    assert got == _states(sketch_agg(corpus, "cms", "tokens",
                                     key_col="source", **CMS))
