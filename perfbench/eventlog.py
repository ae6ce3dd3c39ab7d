"""Reads Spark's local event log (``spark.eventLog.enabled``) into per-job
records, so the traced run can group jobs by ``spark.jobGroup.id``."""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict


def read(log_dir: str) -> dict[tuple, dict]:
    """{(app, job_id): job} with the job's group, start/end, and the summed
    metrics of its tasks. Expects plain (uncompressed, non-rolling) logs."""
    jobs, stage_job, stage_n = {}, {}, defaultdict(int)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = (app, ev["Job ID"])
                    props = ev.get("Properties") or {}
                    jobs[key] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0, "end": None,
                        "stages": 0, "tasks": 0, "failed_tasks": 0,
                        "run_s": 0.0, "cpu_s": 0.0, "wait_s": 0.0, "gc_s": 0.0,
                        "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[(app, sid)] = key
                elif kind == "SparkListenerJobEnd":
                    key = (app, ev["Job ID"])
                    if key in jobs:
                        jobs[key]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    key = stage_job.get((app, ev["Stage Info"]["Stage ID"]))
                    if key in jobs:
                        jobs[key]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    key = stage_job.get((app, ev["Stage ID"]))
                    if key not in jobs:
                        continue
                    j, info = jobs[key], ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    j["tasks"] += 1
                    j["failed_tasks"] += bool(info.get("Failed"))
                    run_ms = m.get("Executor Run Time", 0)
                    wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    j["run_s"] += run_ms / 1e3
                    j["wait_s"] += max(0, wall_ms - run_ms) / 1e3
                    j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    j["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    j["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    j["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs


def totals(jobs) -> dict[str, float]:
    keys = ("stages", "tasks", "failed_tasks", "run_s", "cpu_s", "wait_s", "gc_s",
            "shuffle_write", "shuffle_read", "spill")
    out = {k: 0 for k in keys}
    for j in jobs:
        for k in keys:
            out[k] += j[k]
    out["jobs"] = len(jobs)
    return out
