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
(``SparkContext.setJobDescription``) starts with it are printed.
"""
from __future__ import annotations

import json
import os
import sys

INIT = ("time to start Python workers", "time to initialize Python workers")
RUN = "time to run Python workers"


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
    py_init_s, nodes}``; a job row has ``stage`` None and sums its
    stages' task columns."""
    jobs, stages = {}, {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1e3,
                                 "end": None, "desc": desc or "",
                                 "stages": e["Stage IDs"]}
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif ev == "SparkListenerStageCompleted":
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
                     "wall_s": wall, **sums, "nodes": []})
        rows += [{"job": jid, "stage": s, "desc": "", **stages[s]}
                 for s in ran]
    return rows


def _stage() -> dict:
    return {"wall_s": float("nan"), "tasks": 0, "task_s": 0.0,
            "py_run_s": 0.0, "py_init_s": 0.0, "nodes": []}


def main() -> int:
    if len(sys.argv) not in (2, 3):
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    rows = stage_table(read_events(sys.argv[1]),
                       sys.argv[2] if len(sys.argv) == 3 else "")
    print(f"{'job':>4} {'stage':>5} {'wall_s':>7} {'tasks':>5} "
          f"{'task_s':>7} {'py_run':>7} {'py_init':>7}  nodes / description")
    for r in rows:
        label = r["desc"] if r["stage"] is None else " ".join(r["nodes"])
        stage = "" if r["stage"] is None else r["stage"]
        print(f"{r['job']:>4} {stage:>5} {r['wall_s']:7.3f} {r['tasks']:>5} "
              f"{r['task_s']:7.3f} {r['py_run_s']:7.3f} "
              f"{r['py_init_s']:7.3f}  {label}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
