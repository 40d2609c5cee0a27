"""Per-layer ``exec.*`` and ``llm.py_*`` numbers from a Spark event log.

The traced run starts its session with ``spark.eventLog.enabled``; after
the session stops, ``summarize`` reads the finished log and aggregates the
tasks, stages and jobs that started inside a wall-clock window (epoch
milliseconds), so set-up and the untraced phase are left out.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

MB = 1024.0 * 1024.0

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def find_log(log_dir: str, app_id: str) -> str | None:
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    return None


def summarize(path: str, t0_ms: float, t1_ms: float) -> dict[str, float]:
    tasks_by_stage: dict[tuple, list[float]] = defaultdict(list)
    out = defaultdict(float)
    jobs = 0
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if t0_ms <= ev.get("Submission Time", 0) <= t1_ms:
                    jobs += 1
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                if not (t0_ms <= info.get("Launch Time", 0) <= t1_ms):
                    continue
                m = ev.get("Task Metrics") or {}
                dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                tasks_by_stage[(ev["Stage ID"], ev.get("Stage Attempt ID", 0))].append(dur)
                out["exec.task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                out["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["exec.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                out["exec.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                sr = m.get("Shuffle Read Metrics") or {}
                out["exec.shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                out["exec.spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                peak = m.get("Peak Execution Memory", 0)
                for acc in info.get("Accumulables", []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if name == PY_SENT:
                        out["llm.py_sent_mb"] += float(upd) / MB
                    elif name == PY_RETURNED:
                        out["llm.py_returned_mb"] += float(upd) / MB
                    elif name == "internal.metrics.peakExecutionMemory" and not peak:
                        peak = float(upd)
                out["exec.peak_exec_mem_mb"] = max(out["exec.peak_exec_mem_mb"], peak / MB)
    out["exec.jobs"] = float(jobs)
    out["exec.stages"] = float(len(tasks_by_stage))
    out["exec.tasks"] = float(sum(len(v) for v in tasks_by_stage.values()))
    skew = 0.0
    if tasks_by_stage:
        slowest = max(tasks_by_stage.values(), key=sum)
        med = statistics.median(slowest)
        skew = max(slowest) / med if med > 0 else 1.0
    out["exec.task_skew"] = skew
    return dict(out)
