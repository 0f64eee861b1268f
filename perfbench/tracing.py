"""Spans, process-tree RSS sampling and the Spark event-log reduction.

Spans are recorded around the benchmark's own calls into the library;
nothing inside ``gostatix_spark`` is instrumented. With tracing on,
each span also tags the Spark jobs it starts (``setJobDescription``),
so the event log can be cut per pass and per call.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

PAGE = os.sysconf("SC_PAGE_SIZE")

# plan nodes of a per-batch Arrow UDF (phase 1 of a build, probe hashing)
BATCH_NODES = {"MapInArrow", "MapInPandas", "ArrowEvalPython",
               "BatchEvalPython"}
# plan nodes of a grouped pandas/Arrow UDF (phase-2 merges, cogroups)
GROUPED_NODES = {"FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                 "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow"}


class Tracer:
    """In-memory spans. ``pass_id`` is None outside timed passes."""

    def __init__(self, spark_context_getter, traced: bool):
        self._sc = spark_context_getter
        self.traced = traced
        self.spans: list[dict] = []
        self.pass_id: int | None = None
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if self.traced and self.pass_id is not None:
            self._sc().setJobDescription(
                f"perfbench pass={self.pass_id} {name}")
        self._stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            self.spans.append({"name": name, "parent": parent,
                               "pass": self.pass_id, "start": t0, "end": t1})

    def shares(self, prefix: str, walls: list[float]) -> dict[str, float]:
        """Median over passes of the share of the pass wall ``walls[i]``
        spent in each span whose name starts with ``prefix``."""
        per: dict[str, list[float]] = {}
        for s in self.spans:
            if s["pass"] is None or not s["name"].startswith(prefix):
                continue
            d = per.setdefault(s["name"], [0.0] * len(walls))
            d[s["pass"]] += (s["end"] - s["start"]) / walls[s["pass"]]
        return {k: statistics.median(v) for k, v in per.items()}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of every process below ``root`` (not ``root`` itself):
    the Spark JVM, the Python worker daemon and its workers."""
    kids = _children_map()
    total, todo = 0, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the benchmark's process tree every ``interval`` seconds
    in a thread; ``peak()`` returns and resets the high-water mark."""

    def __init__(self, interval: float = 0.05):
        self._interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(me)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self._interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def peak(self) -> int:
        with self._lock:
            p, self._peak = self._peak, 0
        return p

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _plan_nodes(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = plan["nodeName"]
    for c in plan.get("children", []):
        _plan_nodes(c, out)


def _stage_class(stage_info: dict) -> str:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        try:
            names.add(json.loads(rdd.get("Scope") or "{}").get("name"))
        except ValueError:
            continue
    if names & GROUPED_NODES:
        return "grouped"
    if names & BATCH_NODES:
        return "batch"
    return "jvm"


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the most recent application in ``log_dir``."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".") and not f.endswith(".inprogress")]
    if not files:
        raise RuntimeError(f"no finished Spark event log in {log_dir}")
    latest = max(files, key=os.path.getmtime)
    with open(latest) as f:
        return [json.loads(line) for line in f if line.strip()]


def reduce_event_log(events: list[dict], pass_windows: dict[int, tuple],
                     cores: int) -> dict[str, float]:
    """Per-pass layer numbers from the event log, reported as the median
    over passes. ``pass_windows`` maps pass id to its (start, end) wall
    time in epoch seconds."""
    acc_node: dict[int, str] = {}
    job_pass: dict[int, int] = {}
    stage_pass: dict[int, int] = {}
    stage_class: dict[int, str] = {}
    stage_span: dict[int, tuple[float, float]] = {}
    for e in events:
        ev = e["Event"]
        if ev.endswith("SQLExecutionStart") or ev.endswith(
                "SQLAdaptiveExecutionUpdate"):
            _plan_nodes(e["sparkPlanInfo"], acc_node)
        elif ev == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description", "")
            if desc.startswith("perfbench pass="):
                pid = int(desc.split()[1].split("=")[1])
                job_pass[e["Job ID"]] = pid
                for s in e["Stage IDs"]:
                    stage_pass[s] = pid
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stage_class[si["Stage ID"]] = _stage_class(si)
            if si.get("Submission Time") and si.get("Completion Time"):
                stage_span[si["Stage ID"]] = (si["Submission Time"] / 1e3,
                                              si["Completion Time"] / 1e3)

    keys = ("phase1_task_s", "phase2_task_s", "partials", "partial_bytes",
            "grouped_rows", "init_s", "run_s", "to_py", "from_py", "cpu_s",
            "gc_s", "shuffle_write", "spill", "task_s")
    per = {p: dict.fromkeys(keys, 0.0) for p in pass_windows}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        p = stage_pass.get(e["Stage ID"])
        if p not in per:
            continue
        d = per[p]
        ti, tm = e["Task Info"], e.get("Task Metrics") or {}
        dur = (ti["Finish Time"] - ti["Launch Time"]) / 1e3
        d["task_s"] += dur
        cls = stage_class.get(e["Stage ID"])
        if cls == "batch":
            d["phase1_task_s"] += dur
        elif cls == "grouped":
            d["phase2_task_s"] += dur
        d["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        d["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        d["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        d["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
            "Disk Bytes Spilled", 0)
        for a in ti.get("Accumulables", []):
            name, node = a.get("Name"), acc_node.get(a.get("ID"))
            try:
                v = float(a.get("Update", 0))
            except (TypeError, ValueError):
                continue
            if name in ("time to start Python workers",
                        "time to initialize Python workers"):
                d["init_s"] += v / 1e3
            elif name == "time to run Python workers":
                d["run_s"] += v / 1e3
            elif name == "data sent to Python workers":
                d["to_py"] += v
            elif name == "data returned from Python workers":
                d["from_py"] += v
                if node in BATCH_NODES:
                    d["partial_bytes"] += v
            elif name == "number of output rows":
                if node in BATCH_NODES:
                    d["partials"] += v
                elif node in GROUPED_NODES:
                    d["grouped_rows"] += v

    jobs = {p: 0 for p in pass_windows}
    for p in job_pass.values():
        if p in jobs:
            jobs[p] += 1
    stages = {p: [] for p in pass_windows}
    for s, p in stage_pass.items():
        if p in stages and s in stage_span:
            stages[p].append((stage_span[s], stage_class.get(s)))

    def wall(p, cls=None):
        return _union_seconds([span for span, c in stages[p]
                               if cls is None or c == cls])

    rows = []
    for p, (t0, t1) in pass_windows.items():
        d = per[p]
        rows.append({
            "agg.phase1_task_s": d["phase1_task_s"],
            "agg.phase2_task_s": d["phase2_task_s"],
            "agg.phase1_stage_s": wall(p, "batch"),
            "agg.phase2_stage_s": wall(p, "grouped"),
            "agg.partials": d["partials"],
            "agg.partial_bytes": d["partial_bytes"],
            "agg.merge_fan_in": (d["partials"] / d["grouped_rows"]
                                 if d["grouped_rows"] else 0.0),
            "arrow.worker_init_s": d["init_s"],
            "arrow.worker_run_s": d["run_s"],
            "arrow.bytes_to_python": d["to_py"],
            "arrow.bytes_from_python": d["from_py"],
            "jvm.task_cpu_s": d["cpu_s"],
            "jvm.gc_share": d["gc_s"] / d["task_s"] if d["task_s"] else 0.0,
            "jvm.shuffle_write_bytes": d["shuffle_write"],
            "jvm.spill_bytes": d["spill"],
            "driver.gap_s": t1 - t0 - wall(p),
            "driver.jobs": jobs[p],
            "driver.stages": len(stages[p]),
            "spark.slot_util": d["task_s"] / (cores * (t1 - t0)),
        })
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
