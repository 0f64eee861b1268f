"""gostatix_spark benchmark: one command, two workloads.

Run from the repository root:

    python3 perfbench/run.py --workload build_tokens --seed 1 \\
        --seconds 12 --trace 0

Workloads (see ``BENCHMARK.json`` for why each exists):

* ``build_tokens`` -- six sketches keyed by source in one
  ``multi_sketch_agg`` scan plus a sharded ``cuckoo_build``; items are
  input tokens.
* ``build_keyed`` -- 4,000-key HLL via ``sketch_agg(merge_buckets=...)``
  with ``hll_estimate``, plus ``checkpointed_sketch_agg`` on a key
  subset; items are input rows.

A run generates its inputs from ``--seed`` (untimed), then sets up three
times -- getting the session, reading and caching the inputs, building
any states read later, one discarded warm-up pass -- and reports the
median as ``setup_s``. Only the first set-up launches the JVM and starts
the session, so the median is a set-up in a running session. It then runs
timed passes for ``--seconds`` (at least three) and reports per-pass
medians. Every pass's outputs are checked against exact answers computed
from the inputs.

With ``--trace 1`` Spark's event log is enabled at launch, every timed
library call is tagged with ``setJobDescription``, and the run prints
the per-layer metrics instead: the event log reduced per pass, the
benchmark's own spans, and an in-process kernel microbench. Spans are
written to ``.perfbench/`` at exit. The tracing overhead is this run's
``trace.wall_s`` minus ``wall_s`` of an untraced run of the same seed.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
MIN_PASSES = 3


def _driver_memory_mb() -> int:
    """A quarter of the host's memory, at most 1 GiB. The inputs need far
    less heap; a larger one only lets the JVM grow its RSS lazily, which
    made ``peak_rss_mb`` differ by 15% between runs of one seed."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f
                            if line.startswith("MemTotal")).split()[1])
    return min(1024, total_kb // 4096)


def _configure_launch(work: str, trace: bool) -> None:
    """Environment for the Spark JVM this process launches: host-sized
    driver memory, scratch space inside ``work``, and the event log when
    tracing. Set before the first session starts."""
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_DRIVER_MEM"] = f"{_driver_memory_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    args = ["--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        for kv in ("spark.eventLog.enabled=true",
                   f"spark.eventLog.dir=file://{events}",
                   "spark.eventLog.compress=false",
                   "spark.eventLog.rolling.enabled=false"):
            args += ["--conf", kv]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _shutdown_jvm(timeout: float = 60.0) -> None:
    """End the JVM launched by this process and wait for every child
    (the JVM, the Python worker daemon and its workers) to exit."""
    from pyspark import SparkContext

    from tracing import _children_map
    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + timeout
    while _children_map().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def _workload(name: str, seed: int, work: str):
    import workloads
    return {"build_tokens": workloads.BuildTokens,
            "build_keyed": workloads.BuildKeyed}[name](seed, work)


def run(args, spec: dict) -> dict:
    from gostatix_spark.session import get_spark

    import micro
    import tracing

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = sampler = None
    try:
        _configure_launch(work, bool(args.trace))
        t0 = time.perf_counter()
        wl = _workload(args.workload, args.seed, work)
        t_inputs = time.perf_counter() - t0
        tr = tracing.Tracer(lambda: spark.sparkContext, bool(args.trace))

        setups = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}", cores=cores)
            spark.catalog.clearCache()
            wl.setup(spark)
            wl.run_pass(spark, tr)
            setups.append(time.perf_counter() - t0)

        sampler = tracing.RssSampler().start()
        passes = []
        deadline = time.perf_counter() + args.seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            tr.pass_id = len(passes)
            sampler.peak()
            w0, t0 = time.time(), time.perf_counter()
            res = wl.run_pass(spark, tr)
            res["wall_s"] = time.perf_counter() - t0
            res["window"] = (w0, time.time())
            res["peak_rss"] = sampler.peak()
            passes.append(res)
        tr.pass_id = None
        sampler.stop()
        sampler = None
        spark.stop()
        spark = None

        attempted = 0
        failures: list[str] = []
        ratios: dict[str, float] = {}
        for p in passes:
            a, f, r = wl.check(p["out"])
            attempted += a
            failures += f
            for k, v in r.items():
                ratios[k] = max(ratios.get(k, 0.0), v)
        failed = len(failures)
        print(f"perfbench: inputs {t_inputs:.3f} s, "
              f"setups {[round(s, 3) for s in setups]} s, "
              f"passes {[round(p['wall_s'], 3) for p in passes]} s, "
              f"failed checks {sorted(set(failures))}, "
              f"error/bound {ratios}", file=sys.stderr)

        def med(key):
            return statistics.median(p[key] for p in passes)

        if not args.trace:
            metrics = {
                "setup_s": statistics.median(setups),
                "wall_s": med("wall_s"),
                "items_per_s": statistics.median(
                    p["items"] / p["wall_s"] for p in passes),
                "state_bytes": med("state_bytes"),
                "peak_rss_mb": med("peak_rss") / 2**20,
            }
            names = spec["end_to_end"]
        else:
            layer = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
            found = micro.run(args.seed)
            found.update(tracing.reduce_event_log(
                tracing.read_event_log(os.path.join(work, "events")),
                {i: p["window"] for i, p in enumerate(passes)}, cores))
            found.update({f"{k}_share": v for k, v in tr.shares(
                "checkpoint.", [p["wall_s"] for p in passes]).items()})
            if any("checkpoint_bytes" in p for p in passes):
                found["checkpoint.bytes_written"] = med("checkpoint_bytes")
            found["check.max_err_ratio"] = max(ratios.values(), default=0.0)
            found["trace.wall_s"] = med("wall_s")
            unknown = set(found) - set(layer)
            if unknown:
                raise KeyError(f"metrics missing from BENCHMARK.json: "
                               f"{sorted(unknown)}")
            layer.update(found)
            metrics = layer
            names = spec["per_layer"]
            out_dir = os.path.join(ROOT, ".perfbench")
            tr.write(os.path.join(out_dir, f"spans-{args.workload}-"
                                           f"{args.seed}.json"))
        units = {m["name"]: m["unit"] for m in names}
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": float(v), "unit": units[k]}
                            for k, v in metrics.items()}}
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            spark.stop()
        if "pyspark" in sys.modules:
            _shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["build_tokens", "build_keyed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import gostatix_spark  # noqa: F401
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (ImportError, OSError) as e:
        print(f"perfbench: the library is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    result = run(args, spec)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
