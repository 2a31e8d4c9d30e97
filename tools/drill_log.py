"""Per-stage numbers for the drills, read from the Spark event log.

A drill starts its session with ``event_log_conf(dir)``, tags each
measured run with ``sparkContext.setJobGroup(name, ...)`` and, after
``spark.stop()``, calls ``stages_by_group(dir)``.  The log is read by
``perfbench.layers.read_event_log``, the reader the benchmark uses, so
no Spark UI is needed.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.layers import read_event_log  # noqa: E402


def event_log_conf(log_dir: str) -> dict:
    """Session settings that write the event log under ``log_dir``."""
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir)}


def stages_by_group(log_dir: str) -> dict[str, list[dict]]:
    """Job group -> one record per stage that ran tasks: ``stage``,
    ``n_tasks``, ``shuffle_write`` (bytes) and ``durations`` (sorted task
    wall times, ms)."""
    group_of: dict[int, str] = {}
    stages: dict[int, dict] = {}
    for e in read_event_log(log_dir):
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in e["Stage IDs"]:
                group_of.setdefault(sid, g)
        elif ev == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            st = stages.setdefault(e["Stage ID"], {
                "stage": e["Stage ID"], "n_tasks": 0, "shuffle_write": 0,
                "durations": []})
            st["n_tasks"] += 1
            st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st["durations"].append(info["Finish Time"] - info["Launch Time"])
    out: dict[str, list[dict]] = {}
    for sid in sorted(stages):
        stages[sid]["durations"].sort()
        out.setdefault(group_of.get(sid, ""), []).append(stages[sid])
    return out
