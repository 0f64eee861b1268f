"""``bench.py``'s scaling protocol without Spark: the work accounting
read from a synthetic event log, the summary figures, and the suite
line printed before the scaling phase starts."""
from __future__ import annotations

import json
import os
import selectors
import signal
import subprocess
import sys

import pytest
from test_stage_times import _job, _task

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pass_work_sums_tasks_and_serial_residue():
    events = [
        *_job(0, None, 8000, 9500, stages=(0,)),  # warm-up: outside
        *[_task(0, 8000, 9000) for _ in range(10)],
        # two concurrent jobs: spans 10.1-11.5 and 10.2-11.8 s
        *_job(1, 0, 10100, 11500, stages=(1, 2)),
        *[_task(1, 10100, 11100) for _ in range(4)],  # 4 task-s
        _task(2, 11150, 11450),  # a single-task stage: 0.3 s serial
        *_job(2, 1, 10200, 11800, stages=(3,)),
        _task(3, 10200, 10700), _task(3, 10300, 10800),  # 1 task-s
    ]
    (wall, task_s, serial), = bench._pass_work(events, [(10.0, 12.0)])
    assert wall == pytest.approx(2.0)
    assert task_s == pytest.approx(4.0 + 0.3 + 1.0)
    # 2.0 s wall − 1.7 s covered by a job span, + the lone task's 0.3 s
    assert serial == pytest.approx(0.3 + 0.3)


def test_scaling_summary_hand_computed():
    passes = {4: [[(2.5, 8.0, 0.3), (2.2, 8.4, 0.35)],
                  [(2.4, 8.1, 0.3), (2.3, 8.2, 0.3)]],
              1: [[(9.0, 7.7, 0.5), (8.0, 7.6, 0.4)],
                  [(8.5, 7.5, 0.45), (8.1, 7.4, 0.4)]]}
    out = bench._scaling_summary(passes, 1_000_000)
    # each level is its fastest pass: c1 (8.0, 7.6, 0.4), c4 (2.2, 8.4, 0.35)
    assert out["scaling_efficiency_1_to_4"] == 0.909  # 8.0 / 2.2 / 4
    assert out["work_efficiency"] == 0.905  # 7.6 / 8.4
    assert out["amdahl_ceiling"] == 0.87  # 1 / (1 + 3 · 0.4 / 8.0)
    assert (out["wall_sec_c1"], out["wall_sec_c4"]) == (8.0, 2.2)
    assert (out["task_s_c1"], out["task_s_c4"]) == (7.6, 8.4)
    assert (out["serial_s_c1"], out["serial_s_c4"]) == (0.4, 0.35)
    assert out["tput_tokens_per_sec_c1"] == 125_000
    assert out["tput_tokens_per_sec_c4"] == 454_545
    assert out["n_sessions"] == {"4": 2, "1": 2}
    assert out["passes_c1"][0] == [[9.0, 7.7, 0.5], [8.0, 7.6, 0.4]]


def test_suite_line_survives_sigterm_during_scaling(tmp_path):
    """The suite line is on stdout before the scaling phase starts, and
    a SIGTERM during scaling ends the run without writing the detail."""
    script = ("import time, bench\n"
              "bench._run_driver_queries = lambda *a: ({'q': 1.5}, 1.5)\n"
              "bench._run_scaling = lambda *a: time.sleep(120)\n"
              "bench.main()\n")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/data/sf0.1",
               SPARK_GRAFT_BENCH_DETAIL=str(tmp_path / "detail.json"))
    proc = subprocess.Popen([sys.executable, "-c", script], cwd=REPO,
                            env=env, stdout=subprocess.PIPE, text=True)
    try:
        ready = selectors.DefaultSelector()
        ready.register(proc.stdout, selectors.EVENT_READ)
        assert ready.select(timeout=30), "no line on stdout within 30 s"
        line = proc.stdout.readline()  # the suite line, before scaling
        proc.send_signal(signal.SIGTERM)
        rest, _ = proc.communicate(timeout=60)
    finally:
        proc.kill()
    assert json.loads(line) == {
        "metric": "sketch+pipeline query suite wall time", "value": 1.5,
        "unit": "sec", "queries": {"q": 1.5}, "sf": "0.1"}
    assert rest == ""
    assert proc.returncode == 143
    assert not (tmp_path / "detail.json").exists()
