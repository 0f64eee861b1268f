"""Checkpoint / resume with per-partition lineage (north_rule requirement).

Analog of the reference's ``*FromKey`` constructors (e.g.
``bloom_filter.go:124-139``, ``count_min_sketch_redis.go:58-72``): state
persisted outside the worker so a build can be reconstructed. Here the
persisted unit is the **phase-1 partial state row** — exactly the
natural unit of recovery in a distributed build:

``(key?, state, n_items, partition_id, rows_consumed, sketch_kind,
snapshot_id)``

stored as parquet, ``snapshot_id`` always bigint, so
``spark.read.parquet(path)`` reads a checkpoint directory as a table.

**Write path: one file per phase-1 task.** A checkpointed build is one
``sketch_agg``-shaped query. Each phase-1 task writes its own partial
rows as one parquet file, named by (kind, ``snapshot_id``,
``partition_id``), first under a hidden temp name (``.<name>.<uuid>.tmp``)
in the checkpoint directory and then published by a rename; then it
emits the same rows into the merge's exchange. There is no Spark write
job, no job commit and no read-back: the merge folds the stream. A
retried or speculative attempt of a task replaces only its own file.
Only when earlier builds published partials does the query also read
them, and union them into the merge.

**Resume.** :func:`completed_partitions` lists the partitions this kind
already has a published partial for (lineage = ``partition_id`` +
``rows_consumed``). Phase 1 skips them (they read nothing, so the
surviving partials are never recomputed) and the merge takes their
checkpointed partials instead. Merge associativity/commutativity
(tested) makes the two-source fold equal to the uninterrupted build. A
partition checkpointed twice is merged once: the merge sorts by (key,
``partition_id``) and drops the repeat as it streams past. Before
phase 1, a resume reads the parameters in the published partials'
frame headers (HLL ``m``; CMS ``d``, ``w``; ...) in the same job that
lists their partitions: when they differ from the new build's, it
raises :class:`CheckpointParamsError` and publishes nothing.

**Filesystems.** The path is resolved once, in the driver, with
``pyarrow.fs.FileSystem.from_uri``, and the resolved filesystem ships to
the tasks: plain and ``file:`` local paths, and ``s3://``, ``gs://`` or
``hdfs://`` where pyarrow is built with that support (HDFS also needs
libhdfs). Anything else (``s3a://``, say) raises
:class:`CheckpointPathError` naming the path, before any job runs. The
rename is atomic on local disks and HDFS. On an object store it is a
copy and a delete, and a reader still sees a published file whole or
not at all, as one object upload is atomic.

**What a failed job leaves.** Every task that published before the
failure keeps its file: a resume recomputes only the other partitions.
A task that dies while writing leaves at most a hidden temp file, which
no reader lists (Spark skips names starting with ``.`` or ``_``), so a
half-written partial is never merged.

At 100 TB: partials are O(num_partitions × num_keys) sketch-sized rows
(KB each), so checkpointing is a small write beside the scan, and
resume skips re-reading completed input splits.
"""

from __future__ import annotations

import os
import struct
import time
import uuid
from typing import NamedTuple
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gostatix_spark.agg import _build_partials, _merge_partials, _sketch_job
from gostatix_spark.state import FRAMES

__all__ = ["CheckpointParamsError", "CheckpointPathError",
           "checkpointed_sketch_agg", "completed_partitions",
           "write_partials"]


class CheckpointPathError(ValueError):
    """A checkpoint path that pyarrow cannot open as a filesystem."""


class CheckpointParamsError(ValueError):
    """A resume whose sketch parameters differ from those of the
    partials its checkpoint path already holds."""


class _Target(NamedTuple):
    """A checkpoint directory, resolved: its pyarrow filesystem, the
    directory within it, the URI Spark reads it by, and the lineage the
    files a build publishes carry."""

    fs: pafs.FileSystem
    root: str
    uri: str
    kind: str | None
    snapshot_id: int

    def publish(self, table: pa.Table) -> None:
        """Write ``table``'s partial rows with their lineage columns, one
        parquet file per ``partition_id``: each under a hidden temp name,
        then renamed into place."""
        n = table.num_rows
        table = (table.append_column(pa.field("sketch_kind", pa.string(), False),
                                     pa.repeat(pa.scalar(self.kind), n))
                 .append_column(pa.field("snapshot_id", pa.int64(), False),
                                pa.repeat(pa.scalar(self.snapshot_id,
                                                    pa.int64()), n)))
        pids = pc.unique(table["partition_id"]).to_pylist()
        for pid in pids:
            part = table if len(pids) == 1 else table.filter(
                pc.equal(table["partition_id"], pid))
            self._write(part, pid)

    def _write(self, table: pa.Table, pid: int) -> None:
        name = f"{self.kind}-{self.snapshot_id}-part-{pid:05d}.parquet"
        tmp = f"{self.root}/.{name}.{uuid.uuid4().hex}.tmp"
        self.fs.create_dir(self.root, recursive=True)
        try:
            with self.fs.open_output_stream(tmp) as out:
                pq.write_table(table, out)
            self.fs.move(tmp, f"{self.root}/{name}")
        except BaseException:
            try:
                self.fs.delete_file(tmp)
            except OSError:
                pass
            raise

    def published(self) -> bool:
        """Whether the directory holds a file a reader lists."""
        infos = self.fs.get_file_info(
            pafs.FileSelector(self.root, allow_not_found=True))
        return any(i.type == pafs.FileType.File
                   and not i.base_name.startswith((".", "_")) for i in infos)


def _target(path: str, kind: str | None = None,
            snapshot_id: int | None = None) -> _Target:
    """Resolve ``path`` with ``pyarrow.fs.FileSystem.from_uri``; a path
    without a scheme is a local path, relative to the working
    directory."""
    uri = path if urlparse(path).scheme else os.path.abspath(path)
    try:
        fs, root = pafs.FileSystem.from_uri(uri)
    except (pa.ArrowException, OSError) as exc:
        raise CheckpointPathError(
            f"checkpoint path {path!r}: pyarrow cannot open it ({exc})"
        ) from exc
    root = root.rstrip("/") or "/"
    if isinstance(fs, pafs.LocalFileSystem):
        uri = "file://" + root  # what Spark reads is what the tasks wrote
    if snapshot_id is None:
        snapshot_id = int(time.time() * 1000)
    return _Target(fs, root, uri, kind, int(snapshot_id))


def _lineage_schema(partials: StructType) -> StructType:
    """The columns of a checkpoint file: the partial's, then
    ``sketch_kind`` and a bigint ``snapshot_id`` (small explicit ids and
    time-based ones share one schema)."""
    return StructType(partials.fields + [
        StructField("sketch_kind", StringType(), False),
        StructField("snapshot_id", LongType(), False)])


class _Skipped(NamedTuple):
    """The phase-1 partitions a checkpointed build does not run: those
    already checkpointed, and, under the ``fail_after_partition`` test
    hook, every partition past ``last``."""

    done: frozenset
    last: int | None

    def __contains__(self, pid: object) -> bool:
        return pid in self.done or (self.last is not None and pid > self.last)


def write_partials(partials: DataFrame, path: str, kind: str,
                   snapshot_id: int | None = None) -> int:
    """Persist phase-1 partials with lineage columns, through the same
    per-task writer as a checkpointed build. The rows are first
    partitioned by ``partition_id``, so each partition's partial lands
    in one file. Returns the snapshot id."""
    target = _target(path, kind, snapshot_id)

    def write(batches):
        batches = [b for b in batches if b.num_rows]
        if batches:
            target.publish(pa.Table.from_batches(batches))
        return iter(())

    (partials.repartition("partition_id")
     .mapInArrow(write, "partition_id int").collect())
    return target.snapshot_id


def _completed(spark: SparkSession, target: _Target, kind: str | None,
               spec=None) -> list[int]:
    """The partitions with a published partial of ``kind``. Given the
    new build's ``spec``, the same job reads each partial's parameters
    from its frame header, and any that differ from the spec's raise
    :class:`CheckpointParamsError`."""
    if not target.published():
        return []
    cp = (spark.read.schema("partition_id int, sketch_kind string, "
                            "state binary").parquet(target.uri))
    if kind is not None:
        cp = cp.where(F.col("sketch_kind") == kind)
    if spec is None:
        return [r["partition_id"] for r in
                cp.select("partition_id").distinct().collect()]
    lay = FRAMES[kind]
    at, n = lay.version_at + 1, lay.params  # the parameters follow it
    fields = struct.Struct("<" + lay.structs[1].format[2:2 + n])
    found = (cp.groupBy(F.substring("state", at + 1, fields.size).alias("p"))
             .agg(F.collect_set("partition_id").alias("pids")).collect())
    names = lay.header._fields[1:1 + n]
    want = dict(zip(names, fields.unpack_from(
        spec.finalize(spec.init())[0], at)))
    for r in found:
        held = dict(zip(names, fields.unpack(bytes(r["p"]))))
        if held != want:
            raise CheckpointParamsError(
                f"checkpoint path {target.uri} holds {kind} partials of "
                f"partitions {sorted(r['pids'])} built with {held}; this "
                f"build has {want}. Resume with the same parameters, or "
                "build into a fresh path.")
    return [pid for r in found for pid in r["pids"]]


def completed_partitions(spark: SparkSession, path: str,
                         kind: str | None = None) -> list[int]:
    """Partition ids with a checkpointed partial **for this sketch
    kind**. A checkpoint path may hold partials of several kinds (the
    persisted ``sketch_kind`` column exists exactly for that); counting
    another kind's partitions as done would silently skip phase 1 for
    the new kind and return an empty build. A path with no published
    file (missing, empty, or holding only hidden temp files) is "no
    checkpoint" and launches no job; an unreadable one raises."""
    return _completed(spark, _target(path), kind)


def checkpointed_sketch_agg(df: DataFrame, kind: str, value_col: str, *,
                            checkpoint_path: str, key_col: str | None = None,
                            element: str | None = None,
                            tree_fanout: int | None = None,
                            fail_after_partition: int | None = None,
                            **sketch_params) -> DataFrame:
    """``sketch_agg`` with phase-1 checkpointing + resume.

    If ``checkpoint_path`` already holds partials for some partitions,
    only the missing input partitions are recomputed. The partials are
    written when the returned DataFrame runs: each phase-1 task
    publishes its own (see the module docstring).
    ``fail_after_partition`` is a test hook: phase-1 tasks for
    partition ids > the given value write and emit nothing, simulating
    executor loss mid-build (FIXTURES.md F4 ``resume_sim``).
    """
    spark = df.sparkSession
    target = _target(checkpoint_path, kind)
    job = _sketch_job(df, kind, value_col, key_col, element, sketch_params)
    done = frozenset(_completed(spark, target, kind, job.spec))
    partials = _build_partials(df, [job], _Skipped(done, fail_after_partition),
                               checkpoint=target)
    if done:
        # the schema the files hold: no footer-reading job to infer it
        earlier = (spark.read.schema(_lineage_schema(partials.schema))
                   .parquet(target.uri)
                   .where(F.col("sketch_kind") == kind)
                   .drop("sketch_kind", "snapshot_id"))
        partials = partials.unionByName(earlier)
    # one contribution per partition (a path may hold a partition under
    # two snapshots): the merge's sorted stream drops the repeats
    return _merge_partials(partials, [key_col] if key_col else [],
                           tree_fanout, dedup=True)
