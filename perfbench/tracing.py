"""Per-layer figures from the Spark event log of a traced run.

The event log is switched on through ``PYSPARK_SUBMIT_ARGS`` (see
``run.py``), never by changing the program. Only work inside the timed
window counts: a job by its submission time, a stage or task by when
it finished.
"""

from __future__ import annotations

import json
import os


def _events(event_dir: str):
    """Every event of every log under ``event_dir`` (Spark writes one
    directory of rolled ``events_*`` files per application)."""
    for dirpath, _, files in os.walk(event_dir):
        for name in sorted(files):
            if not name.startswith(("events_", "local-")):
                continue
            with open(os.path.join(dirpath, name)) as fh:
                for line in fh:
                    yield json.loads(line)


def event_log_metrics(event_dir: str, window: tuple[float, float]) -> dict:
    lo, hi = window[0] * 1000, window[1] * 1000
    jobs = stages = tasks = 0
    run_ms = gc_ms = 0
    shuffle_b = spill_b = py_sent_b = 0
    for ev in _events(event_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if lo <= ev.get("Submission Time", 0) <= hi:
                jobs += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if lo <= info.get("Completion Time", 0) <= hi:
                stages += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            if not lo <= info.get("Finish Time", 0) <= hi:
                continue
            tasks += 1
            m = ev.get("Task Metrics") or {}
            run_ms += m.get("Executor Run Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            shuffle_b += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            spill_b += m.get("Disk Bytes Spilled", 0) + m.get(
                "Memory Bytes Spilled", 0
            )
            for acc in info.get("Accumulables", ()):
                if acc.get("Name") == "data sent to Python workers":
                    py_sent_b += int(acc.get("Update", 0))
    return {
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.executor_run_s": run_ms / 1000,
        "spark.gc_s": gc_ms / 1000,
        "spark.shuffle_write_mb": shuffle_b / 2**20,
        "spark.spill_mb": spill_b / 2**20,
        "spark.python_mb_sent": py_sent_b / 2**20,
    }
