"""Per-job and per-stage times from a Spark event log. Usage:

    python tools/stage_times.py EVENT_LOG_DIR [JOB_DESC_PREFIX]

Reads the most recently modified finished, uncompressed event log in
EVENT_LOG_DIR (``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false``; a single file, or the directory of a
rolling log) and prints one row per job, followed
by one row per stage that job ran: wall seconds, task count, summed task
seconds, the Python workers' run and init seconds (init = "time to
start" + "time to initialize Python workers"), and the plan node names
of the stage. With JOB_DESC_PREFIX, only jobs whose description
(``SparkContext.setJobDescription``, else its call site) starts with
it are printed.

It then prints the driver split of each SQL execution (the
``SQLExecutionStart``/``End`` events, and each job's
``spark.sql.execution.id``): its wall seconds and job count; planning,
from the execution's start to its first job; the gaps between its
jobs, where adaptive execution re-plans; the tail, from its last job's
end to the execution's end; and the Python-side time before it, since
the previous execution ended. The prefix filters executions by their
description too.
"""
from __future__ import annotations

import json
import os
import sys

INIT = ("time to start Python workers", "time to initialize Python workers")
RUN = "time to run Python workers"
SQL = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"


def read_events(log_dir: str) -> list[dict]:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".") and not f.endswith(".inprogress")]
    if not files:
        raise SystemExit(f"no finished Spark event log in {log_dir}")
    latest = max(files, key=os.path.getmtime)
    parts = [latest]
    if os.path.isdir(latest):  # a rolling log: events_<n>_<app> files
        parts = sorted((os.path.join(latest, f) for f in os.listdir(latest)
                        if f.startswith("events_")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
    events = []
    for part in parts:
        with open(part) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def _node_names(stage_info: dict) -> list[str]:
    names = []
    for rdd in sorted(stage_info.get("RDD Info", []),
                      key=lambda r: r["RDD ID"]):
        try:
            name = json.loads(rdd.get("Scope") or "{}").get("name")
        except ValueError:
            continue
        if name and name not in names:
            names.append(name)
    return names


def stage_table(events: list[dict], prefix: str = "") -> list[dict]:
    """Rows ``{job, stage, desc, wall_s, tasks, task_s, py_run_s,
    py_init_s, nodes}``; a job row has ``stage`` None, sums its
    stages' task columns and adds ``start_s``, its submission time in
    epoch seconds."""
    jobs, stages = _jobs(events), {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = stages.setdefault(si["Stage ID"], _stage())
            st["nodes"] = _node_names(si)
            if si.get("Submission Time") and si.get("Completion Time"):
                st["wall_s"] = (si["Completion Time"]
                                - si["Submission Time"]) / 1e3
        elif ev == "SparkListenerTaskEnd":
            st = stages.setdefault(e["Stage ID"], _stage())
            ti = e["Task Info"]
            st["tasks"] += 1
            st["task_s"] += (ti["Finish Time"] - ti["Launch Time"]) / 1e3
            for a in ti.get("Accumulables", []):
                try:
                    v = float(a.get("Update", 0)) / 1e3
                except (TypeError, ValueError):
                    continue
                if a.get("Name") == RUN:
                    st["py_run_s"] += v
                elif a.get("Name") in INIT:
                    st["py_init_s"] += v

    rows, seen = [], set()
    for jid in sorted(jobs):
        job = jobs[jid]
        if not job["desc"].startswith(prefix):
            continue
        ran = [s for s in sorted(job["stages"])
               if s in stages and s not in seen and stages[s]["tasks"]]
        seen.update(ran)
        sums = {k: sum(stages[s][k] for s in ran)
                for k in ("tasks", "task_s", "py_run_s", "py_init_s")}
        wall = job["end"] - job["start"] if job["end"] else float("nan")
        rows.append({"job": jid, "stage": None, "desc": job["desc"],
                     "start_s": job["start"], "wall_s": wall, **sums,
                     "nodes": []})
        rows += [{"job": jid, "stage": s, "desc": "", **stages[s]}
                 for s in ran]
    return rows


def _jobs(events: list[dict]) -> dict[int, dict]:
    """Job id → ``{start, end, desc, stages, execution}``; ``desc`` is
    the job description, else its call site; ``end`` is
    None for a job that never ended and ``execution`` is the job's SQL
    execution id, or None."""
    jobs = {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            execution = props.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"] / 1e3, "end": None,
                "desc": (props.get("spark.job.description")
                         or props.get("callSite.short") or ""),
                "stages": e["Stage IDs"],
                "execution": None if execution is None else int(execution)}
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
    return jobs


def execution_table(events: list[dict], prefix: str = "") -> list[dict]:
    """Rows ``{execution, desc, wall_s, jobs, planning_s, gaps_s,
    tail_s, py_before_s}``, one per finished SQL execution in start
    order. ``gaps_s`` lists the idle time between consecutive jobs of
    the execution; ``planning_s`` and ``tail_s`` are None, and
    ``gaps_s`` empty, for an execution that ran no job;
    ``py_before_s`` is None for the first execution."""
    execs = {}
    for e in events:
        if e["Event"] == SQL + "Start":
            execs[e["executionId"]] = {"start": e["time"] / 1e3, "end": None,
                                       "desc": e.get("description") or ""}
        elif e["Event"] == SQL + "End" and e["executionId"] in execs:
            execs[e["executionId"]]["end"] = e["time"] / 1e3
    spans: dict = {}
    for job in _jobs(events).values():
        if job["execution"] in execs and job["end"] is not None:
            spans.setdefault(job["execution"], []).append(
                (job["start"], job["end"]))
    rows, prev_end = [], None
    for eid, ex in sorted(execs.items(), key=lambda kv: kv[1]["start"]):
        if ex["end"] is None:
            continue
        span = sorted(spans.get(eid, []))
        gaps, busy_until = [], None
        for start, end in span:
            if busy_until is not None:
                gaps.append(max(0.0, start - busy_until))
            busy_until = end if busy_until is None else max(busy_until, end)
        if ex["desc"].startswith(prefix):
            rows.append({
                "execution": eid, "desc": ex["desc"],
                "wall_s": ex["end"] - ex["start"], "jobs": len(span),
                "planning_s": span[0][0] - ex["start"] if span else None,
                "gaps_s": gaps,
                "tail_s": ex["end"] - busy_until if span else None,
                "py_before_s": (None if prev_end is None
                                else ex["start"] - prev_end)})
        # nested executions (a subquery, a cached relation) end inside
        # their parent's span: keep the latest end seen
        prev_end = ex["end"] if prev_end is None else max(prev_end, ex["end"])
    return rows


def _stage() -> dict:
    return {"wall_s": float("nan"), "tasks": 0, "task_s": 0.0,
            "py_run_s": 0.0, "py_init_s": 0.0, "nodes": []}


def main() -> int:
    if len(sys.argv) not in (2, 3):
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    events = read_events(sys.argv[1])
    prefix = sys.argv[2] if len(sys.argv) == 3 else ""
    rows = stage_table(events, prefix)
    print(f"{'job':>4} {'stage':>5} {'wall_s':>7} {'tasks':>5} "
          f"{'task_s':>7} {'py_run':>7} {'py_init':>7}  nodes / description")
    for r in rows:
        label = r["desc"] if r["stage"] is None else " ".join(r["nodes"])
        stage = "" if r["stage"] is None else r["stage"]
        print(f"{r['job']:>4} {stage:>5} {r['wall_s']:7.3f} {r['tasks']:>5} "
              f"{r['task_s']:7.3f} {r['py_run_s']:7.3f} "
              f"{r['py_init_s']:7.3f}  {label}")
    print()
    print(f"{'exec':>4} {'wall_s':>7} {'jobs':>4} {'plan_s':>7} "
          f"{'tail_s':>7} {'py_pre':>7}  AQE gaps between jobs / description")
    for r in execution_table(events, prefix):
        gaps = " ".join(f"{g:.3f}" for g in r["gaps_s"]) or "-"
        print(f"{r['execution']:>4} {r['wall_s']:7.3f} {r['jobs']:>4} "
              f"{_fmt(r['planning_s'])} {_fmt(r['tail_s'])} "
              f"{_fmt(r['py_before_s'])}  [{gaps}] {r['desc'][:60]}")
    return 0


def _fmt(v: float | None) -> str:
    return f"{'-':>7}" if v is None else f"{v:7.3f}"


if __name__ == "__main__":
    sys.exit(main())
