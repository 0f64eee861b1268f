"""Python-worker daemon with heavyweight imports preloaded.

Guide §4.3 (heavyweight init once per task) taken one step further:
once per *daemon*. ``pyspark.daemon`` forks a worker per task and, with
``spark.python.worker.reuse`` frequently unable to return workers to
the idle pool (short tasks, partially-consumed streams), every fork
re-imported pandas/pyarrow inside the child — measured 0.7 s of CPU
per fork on this class of host, ~150 forks per heavy query ≈ 100+
CPU-seconds per query of pure import work.

Importing those modules HERE, before ``manager()`` starts forking,
lets every worker inherit the already-initialized modules through fork
copy-on-write: a fresh worker then costs milliseconds. Activated via
``spark.python.daemon.module=gostatix_spark.daemon_preload`` (see
``session.get_spark``), which also has to put this package on the
daemon's PYTHONPATH via ``spark.executorEnv.PYTHONPATH``.

The daemon also guards ``zipimporter.invalidate_caches`` (see
:func:`install_zip_guard`): pyspark calls ``importlib.invalidate_caches()``
at the start of every task, and on CPython 3.11 each of the ~16
zipimporters over ``pyspark.zip`` then re-reads the archive's whole
central directory (1,328 entries in pyspark 4.1.2).

Before any of that, the daemon sets ``OPENBLAS_NUM_THREADS=1`` unless
the environment already has a value: a Spark task is one thread of an
executor that runs a task per core, and numpy's BLAS would otherwise
start a thread per host CPU in every worker. OpenBLAS reads the
variable once, when numpy loads it, and only the daemon and the workers
it forks see the change.

The preload and the guard are best-effort: a missing optional module
must never stop the daemon from coming up (worker creation would fail
cluster-wide).
Failures are written to stderr — stdout carries the daemon's port
handshake — so a dead entry in the preload list is visible in the
executor log rather than silently losing the optimization.
"""
from __future__ import annotations

import importlib
import os
import sys
import zipimport

PRELOAD = (
    "numpy",
    # the library has no pandas code, but pyspark's Arrow workers import
    # pandas once a task has written its first batch, for mapInArrow and
    # arrow_udf alike (pyspark 4.1.2); a cold import takes ~0.5 s
    "pandas",
    "pyarrow",
    # checkpointed builds write their partials from the task
    "pyarrow.parquet",
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
    # this library's numpy kernels — referenced by cloudpickled UDFs,
    # re-imported in every worker otherwise
    "gostatix_spark.hashing",
    "gostatix_spark.kernels.bloom",
    "gostatix_spark.kernels.cms",
    "gostatix_spark.kernels.cuckoo",
    "gostatix_spark.kernels.hll",
    "gostatix_spark.kernels.topk",
    "gostatix_spark.kernels.tdigest",
    "gostatix_spark.kernels.kll",
)


def _guarded_invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the file's (inode, mtime, ctime, size) changed
    since this importer last read it. The signature is taken BEFORE the
    read, so a rewrite racing the read is picked up by the next call.

    Limit: an archive rewritten IN PLACE to the same size within one
    timestamp tick (coarse-timestamp or network filesystems) keeps its
    signature, and the stale directory stays. A rewrite through a temp
    file and a rename changes the inode and is always seen."""
    try:
        st = os.stat(self.archive)
        sig = (st.st_ino, st.st_mtime_ns, st.st_ctime_ns, st.st_size)
    except OSError:
        sig = None  # gone: let the original drop the directory
    if sig is None or getattr(self, "_gostatix_sig", None) != sig:
        _guarded_invalidate_caches.original(self)
        self._gostatix_sig = sig


def install_zip_guard() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (idempotent) and stamp
    every zipimporter already cached on ``sys.path``, so forked workers
    inherit importers that skip the re-read."""
    cls = zipimport.zipimporter
    # a guard from another copy of this module (it also runs as
    # __main__ in the daemon) carries ``original`` too
    if not hasattr(cls.invalidate_caches, "original"):
        _guarded_invalidate_caches.original = cls.invalidate_caches
        cls.invalidate_caches = _guarded_invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()


def _preload() -> None:
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    for mod in PRELOAD:
        try:
            importlib.import_module(mod)
        except Exception as exc:  # preload is strictly optional
            print(f"gostatix_spark.daemon_preload: cannot preload {mod}:"
                  f" {exc!r}", file=sys.stderr, flush=True)
    try:
        install_zip_guard()
    except Exception as exc:
        print(f"gostatix_spark.daemon_preload: zipimport guard not"
              f" installed: {exc!r}", file=sys.stderr, flush=True)


_preload()

from pyspark.daemon import manager  # noqa: E402  (argv-sensitive import)

if __name__ == "__main__":
    manager()
