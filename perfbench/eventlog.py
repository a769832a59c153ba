"""Spark event-log reader that attributes jobs, stages and tasks to ops.

With one serial client, each op owns the time window it ran in, so a job
belongs to the op whose window holds its submission time and a task to
the op whose window holds its launch time. That also catches streaming
micro-batch jobs, which run under the stream's own job group.
"""

from __future__ import annotations

import json

# Python SQL metrics (PythonSQLMetrics) as they appear in task accumulables.
PYTHON_ACCUMS = {
    "time to run Python workers": "python.run_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
# the timings are SQL timing metrics, reported in milliseconds
MS_ACCUMS = {"python.run_s", "python.init_s"}

SPARK_KEYS = (
    "spark.jobs", "spark.streaming_jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.job_wall_s", "spark.driver_gap_s", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.input_bytes",
    "spark.output_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
) + tuple(sorted(PYTHON_ACCUMS.values()))


def read(path: str) -> tuple[list, list, list]:
    """(jobs, stages, tasks) from an uncompressed event log. Times in ms."""
    jobs: dict[int, dict] = {}
    stages: list[dict] = []
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {"start": ev["Submission Time"], "end": None,
                                      "streaming": "sql.streaming.queryId" in props}
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages.append({"start": info.get("Submission Time")})
            elif kind == "SparkListenerTaskEnd":
                tasks.append(_task(ev))
    return list(jobs.values()), stages, tasks


def _task(ev: dict) -> dict:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    shuffle_read = m.get("Shuffle Read Metrics") or {}
    t = {
        "launch": info["Launch Time"],
        "failed": bool(info.get("Failed")) or ev.get("Task End Reason", {}).get("Reason") != "Success",
        "spark.executor_run_s": m.get("Executor Run Time", 0) / 1e3,
        "spark.executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "spark.gc_s": m.get("JVM GC Time", 0) / 1e3,
        "spark.input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "spark.output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "spark.shuffle_read_bytes": shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0),
        "spark.shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0),
        "spark.spill_bytes": m.get("Disk Bytes Spilled", 0),
    }
    for acc in info.get("Accumulables") or ():
        key = PYTHON_ACCUMS.get(acc.get("Name"))
        if key is not None and acc.get("Update") is not None:
            v = float(acc["Update"])
            t[key] = t.get(key, 0.0) + (v / 1e3 if key in MS_ACCUMS else v)
    return t


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(path: str, windows: list[tuple[float, float]]) -> list[dict]:
    """One dict of ``SPARK_KEYS`` per ``(start_ms, end_ms)`` window."""
    jobs, stages, tasks = read(path)
    out = []
    for lo, hi in windows:
        inside = lambda t: t is not None and lo <= t <= hi  # noqa: E731
        row = {k: 0 for k in SPARK_KEYS}
        spans = []
        for j in jobs:
            if inside(j["start"]):
                row["spark.jobs"] += 1
                row["spark.streaming_jobs"] += j["streaming"]
                spans.append((j["start"], min(j["end"] or hi, hi)))
        row["spark.stages"] = sum(1 for s in stages if inside(s["start"]))
        for t in tasks:
            if not inside(t["launch"]):
                continue
            row["spark.tasks"] += 1
            row["spark.failed_tasks"] += t["failed"]
            for k, v in t.items():
                if k.startswith(("spark.", "python.")):
                    row[k] += v
        wall_s = (hi - lo) / 1e3
        row["spark.job_wall_s"] = _union_ms(spans) / 1e3
        row["spark.driver_gap_s"] = max(0.0, wall_s - row["spark.job_wall_s"])
        out.append(row)
    return out
