"""``tools/stage_times.py``'s driver split per SQL execution, over a
synthetic event log."""
from __future__ import annotations

import importlib.util
import os

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "tools", "stage_times.py")
_spec = importlib.util.spec_from_file_location("stage_times", _PATH)
stage_times = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(stage_times)


def _exec(kind: str, eid: int, t_ms: int, desc: str = "") -> dict:
    e = {"Event": stage_times.SQL + kind, "executionId": eid, "time": t_ms}
    if kind == "Start":
        e["description"] = desc
    return e


def _job(jid: int, eid: int | None, start_ms: int, end_ms: int,
         stages: tuple = ()) -> list:
    props = {} if eid is None else {"spark.sql.execution.id": str(eid)}
    return [{"Event": "SparkListenerJobStart", "Job ID": jid,
             "Submission Time": start_ms, "Stage IDs": list(stages),
             "Properties": props},
            {"Event": "SparkListenerJobEnd", "Job ID": jid,
             "Completion Time": end_ms}]


def _task(stage: int, launch_ms: int, finish_ms: int) -> dict:
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms,
                          "Accumulables": []}}


def test_execution_split():
    events = [
        _exec("Start", 0, 1000, "build"),
        *_job(0, 0, 1050, 1200),      # planning 50 ms
        *_job(1, 0, 1230, 1400),      # AQE gap 30 ms
        *_job(2, 0, 1410, 1500),      # AQE gap 10 ms
        _exec("End", 0, 1520),        # tail 20 ms
        *_job(3, None, 1600, 1700),   # not a SQL job
        _exec("Start", 1, 1900, "collect"),
        _exec("End", 1, 1905),        # no job ran
        _exec("Start", 2, 2000, "other"),  # never ended: skipped
    ]
    rows = stage_times.execution_table(events)
    assert [r["execution"] for r in rows] == [0, 1]
    first, second = rows
    assert first["jobs"] == 3
    assert first["wall_s"] == pytest.approx(0.52)
    assert first["planning_s"] == pytest.approx(0.05)
    assert first["gaps_s"] == pytest.approx([0.03, 0.01])
    assert first["tail_s"] == pytest.approx(0.02)
    assert first["py_before_s"] is None
    assert second["jobs"] == 0 and second["gaps_s"] == []
    assert second["planning_s"] is None and second["tail_s"] is None
    assert second["py_before_s"] == pytest.approx(0.38)
    assert [r["execution"] for r in
            stage_times.execution_table(events, "coll")] == [1]
