"""The worker-daemon preload (gostatix_spark.daemon_preload) must (a)
be active in sessions built by get_spark and (b) leave every UDF path
functional: a forked worker inherits pandas/pyarrow/kernel modules from
the daemon, so a UDF observes them in sys.modules before importing
anything itself."""
from __future__ import annotations

import pytest
import pyspark.sql.functions as F


def test_daemon_module_configured(spark):
    assert (spark.conf.get("spark.python.daemon.module")
            == "gostatix_spark.daemon_preload")
    # the daemon process itself must be able to import the package
    pypath = spark.conf.get("spark.executorEnv.PYTHONPATH")
    import gostatix_spark
    import os
    pkg_root = os.path.dirname(os.path.dirname(
        os.path.abspath(gostatix_spark.__file__)))
    assert pkg_root in pypath.split(os.pathsep)


def test_workers_inherit_preloaded_modules(spark):
    @F.udf("string")
    def probe(_x):
        import sys
        return ",".join(sorted(
            m for m in ("pandas", "pyarrow", "pyarrow.parquet", "numpy",
                        "gostatix_spark.kernels.hll")
            if m in sys.modules))

    got = spark.range(1).select(probe(F.col("id"))).collect()[0][0]
    # the probe UDF itself imports nothing but sys — anything present
    # arrived through the daemon fork
    assert got == ("gostatix_spark.kernels.hll,numpy,pandas,pyarrow,"
                   "pyarrow.parquet"), got


def test_daemon_preload_module_importable_standalone(monkeypatch):
    # `python -m gostatix_spark.daemon_preload` must never fail at
    # import time (worker creation would break cluster-wide); the
    # module body runs everything except manager()
    import importlib
    _restore_invalidate_caches_after(monkeypatch)  # the body installs it
    mod = importlib.import_module("gostatix_spark.daemon_preload")
    assert hasattr(mod, "manager")


def test_every_preload_entry_imports(monkeypatch):
    """A deleted or renamed module in ``PRELOAD`` only writes a line to
    executor stderr, and the daemon quietly stops preloading it: every
    entry must import in the driver."""
    import importlib
    _restore_invalidate_caches_after(monkeypatch)  # the body installs it
    preload = importlib.import_module("gostatix_spark.daemon_preload")
    for name in preload.PRELOAD:
        importlib.import_module(name)


def _write_zip(path, modules: dict) -> None:
    import zipfile
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _restore_invalidate_caches_after(monkeypatch) -> None:
    """The guard replaces a class attribute: put the original back when
    the test ends so later tests run without it."""
    import zipimport
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)


def test_zip_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    """``importlib.invalidate_caches()`` must not re-read an unchanged
    archive's directory, but a rewritten archive must still expose
    its new modules."""
    import importlib
    import sys
    import zipimport

    _restore_invalidate_caches_after(monkeypatch)
    from gostatix_spark.daemon_preload import install_zip_guard

    # only CPython 3.11's zipimporter re-reads the directory eagerly
    # (through the private _read_directory) on invalidate_caches
    count_reads = sys.version_info[:2] == (3, 11)
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"gsk_zip_a": "X = 1\n"})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("gsk_zip_a").X == 1
        install_zip_guard()
        reads = []
        if count_reads:
            real_read = zipimport._read_directory
            monkeypatch.setattr(zipimport, "_read_directory",
                                lambda p: reads.append(p) or real_read(p))
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {"gsk_zip_a": "X = 1\n",
                             "gsk_zip_b": "Y = 2\n"})
        importlib.invalidate_caches()
        if count_reads:
            assert reads.count(archive) == 1
        assert importlib.import_module("gsk_zip_b").Y == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("gsk_zip_a", None)
        sys.modules.pop("gsk_zip_b", None)


def test_workers_run_guarded_invalidate_caches(spark):
    @F.udf("string")
    def probe(_x):
        import sys
        import zipimport
        fn = zipimport.zipimporter.invalidate_caches
        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        stamped = sum(hasattr(f, "_gostatix_sig") for f in zips)
        return f"{fn.__name__} {stamped}/{len(zips)}"

    got = {r[0] for r in spark.range(4, numPartitions=4)
           .select(probe(F.col("id"))).collect()}
    # pyspark ran importlib.invalidate_caches() before the task: every
    # zipimporter it touched went through the guard and was stamped
    for g in got:
        name, frac = g.split()
        stamped, total = map(int, frac.split("/"))
        assert name == "_guarded_invalidate_caches", g
        assert stamped == total, g


def test_preload_failures_go_to_stderr(monkeypatch, capsys):
    # stdout carries the daemon's port handshake: only stderr may speak
    _restore_invalidate_caches_after(monkeypatch)
    import gostatix_spark.daemon_preload as preload
    monkeypatch.setattr(preload, "PRELOAD", ("gostatix_spark.no_such_mod",))
    preload._preload()
    out, err = capsys.readouterr()
    assert out == ""
    assert "cannot preload gostatix_spark.no_such_mod" in err


def _start_env() -> dict:
    """The environment this process was started with."""
    with open("/proc/self/environ", "rb") as f:
        return dict(kv.decode(errors="replace").split("=", 1)
                    for kv in f.read().split(b"\0") if b"=" in kv)


def _worker_env(spark, names: list[str]) -> dict:
    """``names`` as a ``mapInArrow`` worker sees them ('' when unset)."""
    import pyarrow as pa

    def fn(batches):
        import os
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"name": names, "value": [os.environ.get(n, "") for n in names]})

    return {r["name"]: r["value"] for r in spark.range(1, numPartitions=1)
            .mapInArrow(fn, "name string, value string").collect()}


def test_malloc_env_reaches_workers_not_driver(spark):
    import os

    from gostatix_spark.session import _MALLOC_ENV, get_spark
    start = _start_env()
    before = dict(os.environ)
    assert get_spark("gostatix-tests", cores=4, shuffle_partitions=8) is spark
    assert dict(os.environ) == before
    seen = _worker_env(spark, list(_MALLOC_ENV))
    for var, val in _MALLOC_ENV.items():
        # the session's launch left the driver's value as it started
        assert os.environ.get(var) == start.get(var), var
        assert seen[var] == start.get(var, val), var


def test_workers_run_one_openblas_thread(spark):
    start = _start_env()
    got = _worker_env(spark, ["OPENBLAS_NUM_THREADS"])
    assert got["OPENBLAS_NUM_THREADS"] == start.get("OPENBLAS_NUM_THREADS",
                                                    "1")


@pytest.mark.parametrize("user, want", [(None, "1"), ("3", "3")])
def test_daemon_keeps_a_user_openblas_setting(user, want):
    import os
    import subprocess
    import sys

    import gostatix_spark
    env = {k: v for k, v in os.environ.items()
           if k != "OPENBLAS_NUM_THREADS"}
    if user is not None:
        env["OPENBLAS_NUM_THREADS"] = user
    env["PYTHONPATH"] = os.path.dirname(os.path.dirname(
        os.path.abspath(gostatix_spark.__file__)))
    out = subprocess.run(
        [sys.executable, "-c", "import os, gostatix_spark.daemon_preload;"
         " print(os.environ['OPENBLAS_NUM_THREADS'])"],
        env=env, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == want


@pytest.mark.parametrize("paths, want", [
    ((None, None), ["/pkg"]),
    (("", "/env"), ["/pkg", "/env"]),
    (("/user/a:/user/b", None), ["/pkg", "/user/a", "/user/b"]),
    (("/user/a:/pkg", "/env:/user/a"), ["/pkg", "/user/a", "/env"]),
])
def test_executor_pythonpath_keeps_user_entries(paths, want):
    """The package root goes in front of a user's executor PYTHONPATH
    and the driver's; nothing is dropped, and nothing is listed twice."""
    import os

    from gostatix_spark.session import _executor_pythonpath
    paths = tuple(p and p.replace(":", os.pathsep) for p in paths)
    assert _executor_pythonpath("/pkg", *paths).split(os.pathsep) == want


def test_spark_default_reads_defaults_file(tmp_path, monkeypatch):
    from gostatix_spark.session import _spark_default
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert _spark_default("spark.executorEnv.PYTHONPATH") is None
    (tmp_path / "spark-defaults.conf").write_text(
        "# spark.executorEnv.PYTHONPATH /commented\n"
        "spark.master   local[2]\n"
        "spark.executorEnv.PYTHONPATH  /opt/libs:/opt/more\n"
        "spark.executorEnv.OTHER=/x\n")
    assert _spark_default("spark.executorEnv.PYTHONPATH") \
        == "/opt/libs:/opt/more"
    assert _spark_default("spark.executorEnv.OTHER") == "/x"
    assert _spark_default("spark.missing") is None
