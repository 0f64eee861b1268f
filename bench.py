"""Benchmark harness.

Prints the suite JSON line
``{"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}`` as soon as the queries are
timed, then a compact headline with the scaling figures as the final
line; the full result goes to ``$SPARK_GRAFT_BENCH_DETAIL`` (default
BENCH/bench_detail_latest.json).

Two workloads:

1. **driver queries** at ``$SPARK_GRAFT_SF_DIR`` (default
   /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` — per-query
   wall seconds.
2. **sketch-build throughput** (the BASELINE.json metric): one pass
   over the deterministic synthetic tokenized corpus building all six
   mergeable sketches and the sharded cuckoo, at N and 4N local cores
   (``$SPARK_GRAFT_SCALING_PAIR``, default 1,4) on the same input →
   tokens/sec at both, the wall-clock scaling efficiency, and beside
   it the work accounting read from each session's Spark event log
   (sandbox stand-in for N vs 4N executors; see BENCH/BASELINE.md).
   Run with SPARK_GRAFT_SCALING=0 to skip.
"""

from __future__ import annotations

import json
import os
import pathlib
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

SESSIONS, PASSES = 3, 2  # per level; timed passes per session


def _run_driver_queries(sf_dir: str, cores: int) -> tuple[dict, float]:
    import __spark_entry__ as entrymod
    from gostatix_spark.session import get_spark

    spark = get_spark("bench-queries", cores=cores)
    # warm JVM + python workers so the first timed query isn't charged
    # the session spin-up
    spark.read.parquet(f"{sf_dir}/events.parquet").count()
    entrymod.q_hll_users(spark, sf_dir).count()
    timings: dict[str, float] = {}
    total = 0.0
    for name, fn in entrymod.queries().items():
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        n = df.count()
        dt = time.perf_counter() - t0
        timings[name] = round(dt, 3)
        total += dt
        print(f"#   {name}: {dt:.2f}s ({n} rows)", flush=True)
        # release SQL caches a query persisted for its own shared
        # subtrees — per-query isolation, no cross-query accumulation
        spark.catalog.clearCache()
    spark.stop()
    return timings, total


def _stop_jvm(spark) -> None:
    """Stop ``spark`` and end its JVM: ``spark.stop()`` leaves the
    gateway JVM up (idle at ~4 GB RSS after the query suite), where it
    would sit beside every scaling session's JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def _sketch_build_job(spark, corpus, n_docs: int) -> None:
    """The measured job (BENCH/BASELINE.md protocol): ONE scan building
    the six mergeable sketches together (multi_sketch_agg) + the
    cuckoo shard build (its own scan — it shuffles element hashes).

    Serial-fraction control (Amdahl dominates the N→4N ratio):
    ``tree_fanout=8`` splits the single-key merges (bloom = 128 × 1.2 MB
    partials ORed in ONE task without it) into parallel sub-merges, and
    the cuckoo shards are sized for their actual load (0.955 design
    capacity) instead of n_docs each — 256 KB per shard state, not
    32 MB."""
    from gostatix_spark.agg import (cuckoo_build, cuckoo_shard_size,
                                    multi_sketch_agg)

    from pyspark.sql import functions as F

    corpus = corpus.withColumn("n_tok_d", F.col("n_tok").cast("double"))
    n_shards = 32
    per_shard = cuckoo_shard_size(n_docs, n_shards)
    states = multi_sketch_agg(corpus, [
        {"name": "hll", "kind": "hll", "value_col": "tokens",
         "key_col": "source", "params": {"m": 16384}},
        {"name": "cms", "kind": "cms", "value_col": "tokens",
         "key_col": "source", "params": {"eps": 0.001, "fail_prob": 0.01}},
        {"name": "bloom", "kind": "bloom", "value_col": "doc_id",
         "element": "string", "params": {"n": n_docs, "eps": 0.01}},
        {"name": "topk", "kind": "topk", "value_col": "tokens",
         "params": {"k": 100, "eps": 0.0001}},
        {"name": "tdigest", "kind": "tdigest", "value_col": "n_tok_d",
         "key_col": "source", "params": {}},
        {"name": "kll", "kind": "kll", "value_col": "n_tok_d",
         "key_col": "source", "params": {}},
    ], tree_fanout=8)
    cuckoo_states = cuckoo_build(corpus, "doc_id", element="string",
                                 n_shards=n_shards, eps=0.01,
                                 size=per_shard)
    # materialize both builds CONCURRENTLY (separate Spark jobs in one
    # session) — their stages interleave, so neither build's merge tail
    # leaves cores idle; sequential actions would add the tails up
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(2) as pool:
        list(pool.map(lambda df: df.count(), (states, cuckoo_states)))


def _session(cores: int, corpus_path: str, input_bytes: int,
             n_docs: int) -> list[tuple[float, float]]:
    """One measurement session, run inside the fresh subprocess that
    :func:`_scaling_rep_subprocess` starts: one discarded warm-up pass
    (JIT, worker start), then ``PASSES`` timed passes. Returns each
    timed pass's (start, end) in epoch seconds, the start cut to the
    event log's milliseconds."""
    from gostatix_spark.session import get_spark

    mpb = max(16, int(input_bytes / (4 * cores) / (1 << 20)))
    spark = get_spark(f"bench-scaling-{cores}", cores=cores,
                      shuffle_partitions=32, max_partition_bytes=f"{mpb}m",
                      active_processors=cores)
    corpus = spark.read.parquet(corpus_path)
    corpus.count()
    windows = []
    for _ in range(1 + PASSES):
        t0 = int(time.time() * 1e3) / 1e3
        _sketch_build_job(spark, corpus, n_docs)
        windows.append((t0, time.time()))
    spark.stop()
    return windows[1:]


def _scaling_rep_subprocess(cores: int, corpus_path: str, input_bytes: int,
                            n_docs: int, events: str) -> list[tuple]:
    """:func:`_session` in a fresh subprocess with an N-core JVM and its
    event log in ``events``; returns :func:`_pass_work` of its passes.

    ``local[N]`` caps only task slots; ``-XX:ActiveProcessorCount=N``
    also sizes the JVM's GC/JIT/netty pools for N cores, as a container
    runtime does for a real N-core executor, and the 8g driver heap
    keeps GC proportionate. A fresh JVM per session keeps the passes
    clean: one JVM running many passes degraded 3-8× (BASELINE.md)."""
    from tools.stage_times import read_events

    os.makedirs(events)
    conf = ("spark.eventLog.enabled=true", "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file://{events}",
            "spark.eventLog.rolling.enabled=false")
    args = [a for kv in conf for a in ("--conf", kv)] + ["pyspark-shell"]
    env = dict(os.environ, SPARK_DRIVER_MEM="8g",
               PYSPARK_SUBMIT_ARGS=shlex.join(args))
    runner = ("import json, sys\nsys.path.insert(0, sys.argv[5])\n"
              "from bench import _session\nc, p, b, n = sys.argv[1:5]\n"
              "w = _session(int(c), p, int(b), int(n))\n"
              "print('SCALING_SESSION ' + json.dumps(w))\n")
    proc = subprocess.run(
        [sys.executable, "-c", runner, str(cores), corpus_path,
         str(input_bytes), str(n_docs),
         os.path.dirname(os.path.abspath(__file__))],
        capture_output=True, text=True, timeout=2400, env=env)
    for line in proc.stdout.splitlines():
        if line.startswith("SCALING_SESSION "):
            windows = json.loads(line.split(" ", 1)[1])
            return _pass_work(read_events(events), windows)
    raise RuntimeError(
        f"scaling session subprocess failed (rc={proc.returncode}):\n"
        f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")


def _pass_work(events: list[dict], windows) -> list[tuple]:
    """(wall, Σ task-s, serial residue) of each pass (start, end): the
    jobs submitted inside the window, the summed task time of their
    stages, and the serial residue — the wall no job span covers
    (driver time) plus the run time of every single-task stage's task
    (the task's own run, not the stage's wait for a free slot)."""
    from tools.stage_times import stage_table

    rows, out = stage_table(events), []
    for t0, t1 in windows:
        jobs = {r["job"]: (r["start_s"], r["start_s"] + r["wall_s"])
                for r in rows
                if r["stage"] is None and t0 <= r["start_s"] <= t1}
        stages = [r for r in rows
                  if r["stage"] is not None and r["job"] in jobs]
        covered, busy_until = 0.0, t0
        for a, b in sorted(jobs.values()):
            covered += max(0.0, b - max(a, busy_until))
            busy_until = max(busy_until, b)
        out.append((t1 - t0, sum(s["task_s"] for s in stages),
                    t1 - t0 - covered
                    + sum(s["task_s"] for s in stages if s["tasks"] == 1)))
    return out


def _scaling_summary(passes: dict, n_tokens: int) -> dict:
    """Scaling figures from ``{cores: [[(wall, Σ task-s, serial), …]
    per session]}`` of two levels lo < hi, r = hi/lo. Each level is its
    fastest timed pass. ``scaling_efficiency_{lo}_to_{hi}`` is the wall
    ratio over r; ``work_efficiency`` is Σ task-s(lo)/Σ task-s(hi), how
    much the work itself grows at hi; ``amdahl_ceiling`` is
    1/(1 + (r−1)·f), f the lo pass's serial residue over its wall."""
    (lo, hi), out, best = sorted(passes), {}, {}
    for c, sessions in passes.items():
        best[c] = wall, task_s, serial = min(p for s in sessions for p in s)
        out.update({f"wall_sec_c{c}": round(wall, 2),
                    f"tput_tokens_per_sec_c{c}": round(n_tokens / wall),
                    f"task_s_c{c}": round(task_s, 2),
                    f"serial_s_c{c}": round(serial, 2),
                    f"passes_c{c}": [[[round(x, 2) for x in p] for p in s]
                                     for s in sessions]})
    r = hi / lo
    out[f"scaling_efficiency_{lo}_to_{hi}"] = round(
        best[lo][0] / best[hi][0] / r, 3)
    out["work_efficiency"] = round(best[lo][1] / best[hi][1], 3)
    out["amdahl_ceiling"] = round(
        1 / (1 + (r - 1) * best[lo][2] / best[lo][0]), 3)
    out["n_sessions"] = {str(c): len(s) for c, s in passes.items()}
    return out


def _run_scaling(n_docs: int, partitions: int, seed: int = 42) -> dict:
    """N vs 4N measurement (sandbox stand-in for two cluster sizes),
    protocol v7 in BENCH/BASELINE.md: the corpus materialized once, then
    ``SESSIONS`` fresh sessions per level, alternating hi then lo so
    co-tenant load falls on both levels. Every session runs, none is
    retried or cut short, and the figures are :func:`_scaling_summary`
    of every timed pass. ``$SPARK_GRAFT_SCALING_PAIR`` sets the pair
    (default 1,4: the serial level is this host's most stable one)."""
    from pyspark.sql import functions as F

    from gostatix_spark.corpus import corpus_df
    from gostatix_spark.session import get_spark

    pair = [int(x) for x in os.environ.get(
        "SPARK_GRAFT_SCALING_PAIR", "1,4").split(",")]
    tmp = tempfile.mkdtemp(prefix="gostatix_bench_")
    corpus_path = f"{tmp}/corpus"
    try:
        # training-sequence shape (mean ≈ 1.5k tokens, clip 8k), stored
        # once: the input is a table, and generating it is not measured.
        # One generating task per CPU: each holds ~0.5 GB of arrays
        spark = get_spark("bench-gen", cores=os.cpu_count())
        corpus_df(spark, n_docs, seed=seed, partitions=partitions,
                  mu=7.0, sigma=0.75, max_len=8192) \
            .write.mode("overwrite").parquet(corpus_path)
        n_tokens = int(spark.read.parquet(corpus_path)
                       .select(F.sum("n_tok")).collect()[0][0])
        _stop_jvm(spark)  # the sessions run in JVMs of their own
        input_bytes = sum(f.stat().st_size for f in
                          pathlib.Path(corpus_path).glob("*.parquet"))
        passes = {c: [] for c in pair}
        for i in range(SESSIONS):
            for c in sorted(pair, reverse=True):
                work = _scaling_rep_subprocess(c, corpus_path, input_bytes,
                                               n_docs, f"{tmp}/events-{c}-{i}")
                passes[c].append(work)
                print(f"#   scaling session {i + 1} cores={c}: " + ", ".join(
                    f"{w:.1f}s ({t:.1f} task-s, {s:.2f}s serial)"
                    for w, t, s in work), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {**_scaling_summary(passes, n_tokens), "n_tokens": n_tokens,
            "n_docs": n_docs, "input_partitions": partitions, "pair": pair}


def main() -> None:
    # a SIGTERM unwinds: the running session subprocess is killed and
    # the materialized corpus deleted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    timings, total = _run_driver_queries(sf_dir, cores)

    result = {
        "metric": "sketch+pipeline query suite wall time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    # the suite line first: a scaling phase cut short cannot lose it
    print(json.dumps(result), flush=True)

    if os.environ.get("SPARK_GRAFT_SCALING", "1") != "0":
        # 165k training-sequence docs (~238M tokens). At 100k the (1, 4)
        # pair read superlinear (c1 60.0 s vs c4 14.3 s): fixed per-pass
        # costs and single-thread GC weigh on the 1-core level more as
        # the job shrinks (BENCH/BASELINE.md).
        n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "165000"))
        parts = int(os.environ.get("SPARK_GRAFT_BENCH_PARTS", "128"))
        result["scaling"] = _run_scaling(n_docs, parts)

    # The FULL result (every pass of every session) goes to a file; the
    # final stdout line is a COMPACT headline that a bounded tail
    # capture can always parse (one giant line once outran it).
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL",
                                 "BENCH/bench_detail_latest.json")
    try:
        os.makedirs(os.path.dirname(detail_path) or ".", exist_ok=True)
        with open(detail_path, "w") as f:
            json.dump(result, f, indent=1)
    except OSError as e:
        print(f"# bench detail write failed ({e})", flush=True)
        detail_path = None
    compact = {k: v for k, v in result.items() if k != "scaling"}
    if detail_path:
        compact["detail_file"] = detail_path
    sc = result.get("scaling")
    if sc is not None:
        lo, hi = sorted(sc["pair"])
        keep = [f"scaling_efficiency_{lo}_to_{hi}", "work_efficiency",
                "amdahl_ceiling", "n_tokens", "n_docs", "pair", "n_sessions"]
        keep += [f"{k}_c{c}" for c in (lo, hi) for k in (
            "wall_sec", "tput_tokens_per_sec", "task_s", "serial_s")]
        compact["scaling"] = {k: sc[k] for k in keep}
    print(json.dumps(compact), flush=True)


if __name__ == "__main__":
    main()
