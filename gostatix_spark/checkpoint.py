"""Checkpoint / resume with per-partition lineage (north_rule requirement).

Analog of the reference's ``*FromKey`` constructors (e.g.
``bloom_filter.go:124-139``, ``count_min_sketch_redis.go:58-72``): state
persisted outside the worker so a build can be reconstructed. Here the
persisted unit is the **phase-1 partial state row** — exactly the
natural unit of recovery in a distributed build:

``(sketch_kind, key?, partition_id, snapshot_id, rows_consumed,
n_items, state)``

written as parquet. Resume reads the checkpoint, determines which input
partitions already contributed (lineage = ``partition_id`` +
``rows_consumed``), re-runs phase 1 **only on the missing partitions**
(via ``rdd.mapPartitionsWithIndex`` partition pruning — no data shuffle,
the surviving partials are never recomputed), then merges old + new
partials. Merge associativity/commutativity (tested) makes the
two-source fold equal to the uninterrupted build. The read-back names
the schema it wrote (``snapshot_id`` is always bigint), so no job reads
a parquet footer to infer it. A partition
checkpointed twice is merged once: the merge sorts by (key,
``partition_id``) and drops the repeat as it streams past.

At 100 TB: partials are O(num_partitions × num_keys) sketch-sized rows
(KB each), so checkpointing is a trivially small parquet write compared
to the scan, and resume skips re-reading completed input splits.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from gostatix_spark.agg import _build_partials, _merge_partials, _sketch_job

__all__ = ["checkpointed_sketch_agg", "write_partials"]


def _with_lineage(partials: DataFrame, kind: str,
                  snapshot_id: int) -> DataFrame:
    """The rows a checkpoint holds: partials plus ``sketch_kind`` and a
    bigint ``snapshot_id`` (small explicit ids and time-based ones share
    one schema)."""
    return (partials.withColumn("sketch_kind", F.lit(kind))
            .withColumn("snapshot_id", F.lit(snapshot_id).cast("bigint")))


def write_partials(partials: DataFrame, path: str, kind: str,
                   snapshot_id: int | None = None) -> int:
    """Persist phase-1 partials with lineage columns. Returns snapshot id."""
    if snapshot_id is None:
        snapshot_id = int(time.time() * 1000)
    _with_lineage(partials, kind, snapshot_id).write.mode("append").parquet(
        path)
    return snapshot_id


def completed_partitions(spark: SparkSession, path: str,
                         kind: str | None = None) -> list[int]:
    """Partition ids with a checkpointed partial **for this sketch
    kind**. A checkpoint path may hold partials of several kinds (the
    persisted ``sketch_kind`` column exists exactly for that); counting
    another kind's partitions as done would silently skip phase 1 for
    the new kind and return an empty build. A missing path is the only
    "no checkpoint": an unreadable one raises."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return []
    cp = spark.read.parquet(path)
    if kind is not None:
        cp = cp.where(F.col("sketch_kind") == kind)
    return [r["partition_id"] for r in
            cp.select("partition_id").distinct().collect()]


def checkpointed_sketch_agg(df: DataFrame, kind: str, value_col: str, *,
                            checkpoint_path: str, key_col: str | None = None,
                            element: str | None = None,
                            tree_fanout: int | None = None,
                            fail_after_partition: int | None = None,
                            **sketch_params) -> DataFrame:
    """``sketch_agg`` with phase-1 checkpointing + resume.

    If ``checkpoint_path`` already holds partials for some partitions,
    only the missing input partitions are recomputed.
    ``fail_after_partition`` is a test hook: phase-1 tasks for
    partition ids > the given value raise, simulating executor loss
    mid-build (FIXTURES.md F4 ``resume_sim``).
    """
    spark = df.sparkSession
    job = _sketch_job(df, kind, value_col, key_col, element, sketch_params)
    done = frozenset(completed_partitions(spark, checkpoint_path, kind))
    partials = _build_partials(df, [job], skip_partitions=done)
    if fail_after_partition is not None:
        # test hook: pretend every partition after the limit was lost
        partials = partials.where(
            F.col("partition_id") <= int(fail_after_partition))

    write_partials(partials, checkpoint_path, kind)

    # the schema just written: no footer-reading job to infer it
    all_partials = (spark.read.schema(_with_lineage(partials, kind, 0).schema)
                    .parquet(checkpoint_path)
                    .where(F.col("sketch_kind") == kind)
                    .drop("sketch_kind", "snapshot_id"))
    # one contribution per partition (idempotent re-runs may append
    # dupes): the merge's sorted stream drops the repeats
    return _merge_partials(all_partials, [key_col] if key_col else [],
                           tree_fanout, dedup=True)
