"""The event-log parser against a log recorded from Spark 4.1 (local[2]: a
``mapInPandas`` stage of two tasks, then a one-task shuffle read)."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_recorded_log_totals():
    files = eventlog.log_files(DATA)
    assert [os.path.basename(f) for f in files] == ["events_1_local-1"]
    s = eventlog.summarize(files)
    assert (s["spark.jobs"], s["spark.stages"], s["spark.tasks"]) == (2, 2, 3)
    assert s["spark.task_run_s"] == pytest.approx(6.119)
    assert s["spark.task_cpu_s"] == pytest.approx(0.933285734)
    assert s["spark.gc_s"] == pytest.approx(0.109)
    assert s["spark.shuffle_write_bytes"] == 269
    assert s["spark.shuffle_read_bytes"] == 269
    assert s["spark.spill_bytes"] == 0
    assert s["spark.peak_exec_mem_bytes"] == 8650736
    # two Python tasks: 8432 + 8432 bytes out, 16224 + 16224 back
    assert s["arrow.bytes_to_python"] == 16864
    assert s["arrow.bytes_from_python"] == 32448
    assert s["python.run_s"] == pytest.approx(2.577 + 2.545)
    assert s["python.start_s"] == pytest.approx(1.501 + 1.510)
    # no stage has enough tasks for a skew ratio
    assert s["spark.task_skew_max"] == 1.0


def test_since_keeps_later_work_only():
    # the second job (the shuffle read) was submitted at 1792221216101
    s = eventlog.summarize(eventlog.log_files(DATA), since_ms=1792221216101)
    assert (s["spark.jobs"], s["spark.stages"], s["spark.tasks"]) == (1, 1, 1)
    assert s["arrow.bytes_to_python"] == 0
    assert s["spark.task_run_s"] == pytest.approx(0.141)


def _task_end(stage: int, ms: int) -> str:
    return json.dumps(
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms},
            "Task Metrics": {"Executor Run Time": ms},
        }
    )


def test_rolled_files_in_order_and_skew(tmp_path):
    roll = tmp_path / "eventlog_v2_app"
    roll.mkdir()
    # events_10 sorts before events_2 as text; the parser orders by index
    (roll / "events_2_app").write_text(_task_end(7, 400) + "\n")
    (roll / "events_10_app").write_text(_task_end(7, 100) + "\n")
    (roll / "events_1_app").write_text(
        "\n".join(_task_end(7, 100) for _ in range(2)) + "\n"
    )
    (roll / "appstatus_app").write_text("")
    files = eventlog.log_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == [
        "events_1_app", "events_2_app", "events_10_app"
    ]
    s = eventlog.summarize(files)
    assert s["spark.tasks"] == 4
    assert s["spark.task_skew_max"] == pytest.approx(400 / 100)
