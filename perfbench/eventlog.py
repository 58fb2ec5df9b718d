"""Sum engine-side metrics out of an uncompressed Spark event log.

The traced session writes its event log with ``spark.eventLog.enabled=true``
and ``spark.eventLog.compress=false``. Spark 4 may roll the log into an
``eventlog_v2_<app>/events_<n>_<app>`` directory; a single ``<app>`` file is
read the same way. Every line is one JSON listener event.

Task metrics come from ``SparkListenerTaskEnd``. The Python/Arrow boundary
figures are SQL metrics; each task reports its share as an accumulable
``Update`` under the metric's name, so they are summed from the task events
too (a stage-level accumulable value is cumulative and would double count).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

# SQL metric name -> (output key, divisor that converts the update to the
# output unit). The Python runner times are millisecond timing metrics.
PYTHON_METRICS = {
    "data sent to Python workers": ("arrow.bytes_to_python", 1),
    "data returned from Python workers": ("arrow.bytes_from_python", 1),
    "time to run Python workers": ("python.run_s", 1e3),
    "time to start Python workers": ("python.start_s", 1e3),
}

# a stage's max/median task-time ratio is noise when its tasks take a few
# milliseconds, so only stages with enough tasks and some real work count
_SKEW_MIN_TASKS = 4
_SKEW_MIN_MEDIAN_MS = 20


def log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``, in write order."""
    rolled = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])),
    )
    plain = [
        p
        for p in sorted(glob.glob(os.path.join(log_dir, "*")))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    ]
    return rolled + plain


def _events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def summarize(paths: list[str], since_ms: int = 0) -> dict[str, float]:
    """Totals over the jobs, stages and tasks in the given log files that
    were submitted or launched at or after ``since_ms`` (epoch ms)."""
    out = {
        "spark.jobs": 0,
        "spark.stages": 0,
        "spark.tasks": 0,
        "spark.task_run_s": 0.0,
        "spark.task_cpu_s": 0.0,
        "spark.gc_s": 0.0,
        "spark.shuffle_write_bytes": 0,
        "spark.shuffle_read_bytes": 0,
        "spark.spill_bytes": 0,
        "spark.peak_exec_mem_bytes": 0,
        "spark.task_skew_max": 1.0,
    }
    out.update({key: 0 for key, _ in PYTHON_METRICS.values()})
    task_ms: dict[tuple[int, int], list[int]] = defaultdict(list)
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if ev.get("Submission Time", 0) >= since_ms:
                out["spark.jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            if (ev.get("Stage Info") or {}).get("Submission Time", 0) >= since_ms:
                out["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            if info.get("Launch Time", 0) < since_ms:
                continue
            out["spark.tasks"] += 1
            m = ev.get("Task Metrics") or {}
            out["spark.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            out["spark.peak_exec_mem_bytes"] = max(
                out["spark.peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
            )
            sw = m.get("Shuffle Write Metrics") or {}
            out["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            out["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            key = (ev.get("Stage ID", -1), ev.get("Stage Attempt ID", 0))
            if "Finish Time" in info and "Launch Time" in info:
                task_ms[key].append(info["Finish Time"] - info["Launch Time"])
            for acc in info.get("Accumulables") or []:
                target = PYTHON_METRICS.get(acc.get("Name"))
                if target is not None and acc.get("Update") is not None:
                    out[target[0]] += int(acc["Update"]) / target[1]
    for times in task_ms.values():
        if len(times) < _SKEW_MIN_TASKS:
            continue
        med = statistics.median(times)
        if med >= _SKEW_MIN_MEDIAN_MS:
            out["spark.task_skew_max"] = max(out["spark.task_skew_max"], max(times) / med)
    return out
