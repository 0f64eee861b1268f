"""SparkSession factory tuned for the sketch workload.

Settings rationale (100 TB design, tested on local[N]):

* AQE on — runtime coalescing of the tiny partial-state shuffle and
  skew-join splitting come for free.
* Arrow everywhere — every UDF in this library is Arrow-batched; the
  batch size bounds phase-1 kernel working sets (10k rows × ~200 tokens
  ≈ 2M hashed elements per batch).
* shuffle partitions sized to cores on local mode; on a real cluster
  set ``spark.sql.shuffle.partitions`` ≈ 2-3× total cores and let AQE
  coalesce — the phase-2 shuffle here is tiny (one sketch row per
  partition×key) so it never dominates.
"""

from __future__ import annotations

import os
import re

import pyspark
from pyspark.sql import SparkSession

# glibc's mmap and trim thresholds for the JVM and the Python workers.
# Arrow/netty direct buffers and numpy batch arrays above the default
# ~128 KB threshold otherwise go through mmap/munmap on EVERY alloc/free
# cycle; with 32 task threads that serializes on the kernel's mmap_lock
# — measured as 50+ s of system time on a single keyed-sketch query,
# plus hypervisor steal from the TLB-shootdown storm (guide §5: memory
# behavior is part of the operator's cost). Serving those from the arena
# instead cut the suite's sys time 5-8× on the heavy queries. Trade-off:
# freed arena memory is retained up to the trim threshold (RSS grows
# toward the high-water mark) — right for a dedicated executor host. A
# value already in the environment wins.
_MALLOC_ENV = {"MALLOC_MMAP_THRESHOLD_": str(512 * 1024 * 1024),
               "MALLOC_TRIM_THRESHOLD_": str(512 * 1024 * 1024)}


def _executor_pythonpath(pkg_root: str, *paths: str | None) -> str:
    """``pkg_root``, then the entries of each of ``paths`` in order, each
    entry once. An unset or empty path adds nothing."""
    entries = [pkg_root]
    for path in paths:
        entries += (path or "").split(os.pathsep)
    return os.pathsep.join(dict.fromkeys(e for e in entries if e))


def _spark_default(key: str) -> str | None:
    """``key``'s value in the ``spark-defaults.conf`` that spark-submit
    loads (``SPARK_CONF_DIR``, else ``SPARK_HOME/conf``), or None. Lines
    are ``key value``, ``key=value`` or ``key: value``; ``#`` and ``!``
    start comments."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        os.environ.get("SPARK_HOME")
        or os.path.dirname(os.path.abspath(pyspark.__file__)), "conf")
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            lines = f.read().splitlines()
    except OSError:
        return None
    value = None
    for line in lines:
        line = line.strip()
        if line and line[0] not in "#!":
            k, v = (re.split(r"\s*[=:]\s*|\s+", line, maxsplit=1) + [""])[:2]
            if k == key:
                value = v
    return value


def get_spark(app: str = "gostatix-spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              max_partition_bytes: str = "128m",
              arrow_batch_rows: int = 10000,
              active_processors: int | None = None) -> SparkSession:
    """``arrow_batch_rows`` bounds every Arrow-batched UDF's working
    set (rows × avg element size). 10k is safe for text-heavy columns
    (dedup UDFs see ~KB texts); numeric/token-only pipelines can raise
    it (e.g. 32k in the throughput bench) to amortize the JVM↔Python
    IPC round-trips over bigger batches.

    ``active_processors`` sets ``-XX:ActiveProcessorCount`` so the JVM
    sizes its GC/JIT/netty/ForkJoin pools for N cores — the same
    mechanism container runtimes use for a real N-core executor.
    ``local[N]`` alone caps only task slots; the JVM's service threads
    otherwise assume all 32 host CPUs. Only honored at JVM launch (the
    first session in a process).

    Python workers talk to the JVM over a Unix domain socket
    (``spark.python.unix.domain.socket.enabled``), not loopback TCP.
    The socket files live in the JVM's ``java.io.tmpdir``, or in
    ``spark.python.unix.domain.socket.dir`` when that is set. A socket
    path is that directory plus a 43-byte file name, and Linux caps it
    at 107 bytes: with a directory longer than 64 bytes the session
    fails to start (``OSError: AF_UNIX path too long``). Point
    ``java.io.tmpdir`` or the socket directory somewhere shorter.

    The glibc malloc thresholds in ``_MALLOC_ENV`` are set only while
    the JVM launches, so the JVM and the worker daemon inherit them;
    the caller's ``os.environ`` is left as it was."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(32, cores)
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true). The
        # byte-honoring alternative (false + advisory size) was
        # measured and REJECTED: several of this library's post-shuffle
        # stages run interpreted higher-order expressions over NARROW
        # rows (signature-agreement estimates, array_intersect
        # verifies), so sizing partitions by bytes collapsed them to
        # one task and serialized the compute (minhash verify 7 s →
        # 58 s). Compute-per-byte here is too uneven for byte-based
        # coalescing.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(arrow_batch_rows))
        .config("spark.sql.files.maxPartitionBytes", max_partition_bytes)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.python.worker.reuse", "true")
        # Preload pandas/pyarrow/kernels in the worker daemon so each
        # forked worker inherits them via fork COW (guide §4.3; see
        # daemon_preload docstring — worker reuse alone does not stick,
        # and a cold import was measured at 0.7 s CPU per fork on slow
        # hosts). executorEnv.PYTHONPATH makes the package importable
        # by the daemon process itself (workers get sys.path from the
        # worker-startup protocol, the daemon does not).
        .config("spark.python.daemon.module", "gostatix_spark.daemon_preload")
        # A user's value (spark-defaults.conf) is kept behind the
        # package root. On a cluster the root is a driver-local path:
        # ship the package with --py-files or a wheel there.
        .config("spark.executorEnv.PYTHONPATH", _executor_pythonpath(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            _spark_default("spark.executorEnv.PYTHONPATH"),
            os.environ.get("PYTHONPATH")))
        .config("spark.ui.enabled", "false")
        # Python workers talk to the JVM over a Unix domain socket: over
        # loopback TCP each task waited ~40 ms (Linux's delayed-ACK
        # timer) for its first Arrow batch; over the socket, ~1 ms
        .config("spark.python.unix.domain.socket.enabled", "true")
    )
    if active_processors is not None:
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-XX:ActiveProcessorCount={int(active_processors)}")
    # The JVM and the Python worker daemon copy their environment when
    # they start, so the malloc settings are set only around the launch
    # and the caller's values are put back after it.
    saved = {var: os.environ.get(var) for var in _MALLOC_ENV}
    for var, val in _MALLOC_ENV.items():
        os.environ.setdefault(var, val)
    try:
        return builder.getOrCreate()
    finally:
        for var, val in saved.items():
            if val is None:
                os.environ.pop(var, None)
            else:
                os.environ[var] = val
