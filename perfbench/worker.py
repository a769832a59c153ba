"""One benchmark process: set up a session, run one workload, write a
result file. Started by ``perfbench/run.py``, which sets the environment
(run id, scratch dirs, cores, driver memory) before this module imports
the engine.

    python3 -m perfbench.worker CONFIG_JSON
"""

from __future__ import annotations

import time

T_START = time.time()

import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import sys  # noqa: E402


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all cores (the 8th
    field of /proc/stat's cpu line, in USER_HZ ticks); 0 off Linux."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def calibrate() -> float:
    """Seconds a fixed pure-Python loop takes: how fast the host runs
    right now, independent of the engine under test."""
    t0 = time.perf_counter()
    x = 0
    for i in range(200_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def setup(cfg: dict, counters=None):
    """Process start to a ready session: JVM start, a warm-up action and
    the catalog import. With ``counters``, the layer wrappers go in first.
    Returns (spark, seconds in get_spark, setup seconds)."""
    if counters is not None:
        from perfbench import trace

        trace.install(counters)
    from finance_reporting_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{cfg['workload']}",
                      extra_conf=cfg.get("spark_conf") or None)
    start_s = time.perf_counter() - t0
    spark.range(1).count()
    from finance_reporting_etl_spark import oracles, pipeline, queries  # noqa: F401

    # queries resolve _AUX_DIR at call time; keep persisted intermediates
    # inside this run's scratch dir rather than the package's default root
    queries._AUX_DIR = oracles._AUX_DIR = os.path.join(cfg["work_dir"], "oracle_aux")
    return spark, start_s, time.time() - cfg.get("t_spawn", T_START)


def run_workload(cfg: dict, spark, counters) -> dict:
    from perfbench.workloads import PASS_S, WARMUP_PASSES, WORKLOADS, Context

    ctx = Context(spark, cfg["sf_dir"], cfg["work_dir"], cfg["seed"])
    ops = WORKLOADS[cfg["workload"]]()
    rng = random.Random(cfg["seed"])
    pins = cfg["pins"]
    failures: list[str] = []
    attempted = 0

    # untimed warm-up passes; the first checks every output against its pin
    t_warm = time.perf_counter()
    for i in range(WARMUP_PASSES[cfg["workload"]]):
        for op in rng.sample(ops, len(ops)):
            attempted += 1
            try:
                _, digests = op.run(ctx, check=i == 0)
            except Exception as e:  # noqa: BLE001 — a failing op costs its slot
                failures.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            bad = {k: v for k, v in digests.items() if pins.get(k) != v}
            if bad:
                failures.append(f"{op.name}: digest {bad} != pins "
                                f"{ {k: pins.get(k) for k in bad} }")
    warmup_s = time.perf_counter() - t_warm

    # closed loop, one client, whole passes
    n_passes = max(1, round(cfg["seconds"] / PASS_S[cfg["workload"]]))
    rows: list[dict] = []
    pass_walls: list[float] = []
    steal0 = steal_s()
    t_begin = time.perf_counter()
    cal_s = [calibrate() for _ in range(3)]
    while len(pass_walls) < n_passes:
        t_pass = time.perf_counter()
        for op in rng.sample(ops, len(ops)):
            attempted += 1
            calls0, secs0 = counters.snapshot() if counters else ({}, {})
            start_ms = time.time() * 1e3
            t0 = time.perf_counter()
            try:
                parts, _ = op.run(ctx, check=False)
            except Exception as e:  # noqa: BLE001
                failures.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            row = {"pass": len(pass_walls), "op": op.name,
                   "wall_s": time.perf_counter() - t0,
                   "start_ms": start_ms, "end_ms": time.time() * 1e3, **parts}
            if counters:
                calls1, secs1 = counters.snapshot()
                for k in calls1:
                    row[f"{k}_calls"] = calls1[k] - calls0.get(k, 0)
                    row[f"{k}_s"] = secs1[k] - secs0.get(k, 0.0)
            rows.append(row)
        pass_walls.append(time.perf_counter() - t_pass)
        cal_s += [calibrate() for _ in range(3)]
    return {"rows": rows, "pass_walls": pass_walls, "attempted": attempted,
            "cal_s": cal_s, "failures": failures, "warmup_s": warmup_s,
            "steal_s": steal_s() - steal0, "measured_s": time.perf_counter() - t_begin}


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    counters = None
    if cfg["trace"]:
        from perfbench.trace import Counters

        counters = Counters()
    spark, start_s, setup_s = setup(cfg, counters)
    result = {"setup_s": setup_s, "session.start_s": start_s,
              **run_workload(cfg, spark, counters)}
    jvm_pid = spark.sparkContext._gateway.proc.pid
    result["peak_rss_mb"] = (
        _vm_hwm_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    ) / 1024.0
    spark.stop()
    if cfg["trace"]:
        from perfbench import eventlog

        (log,) = glob.glob(os.path.join(cfg["event_log_dir"], "*"))
        windows = [(r["start_ms"], r["end_ms"]) for r in result["rows"]]
        for row, spark_row in zip(result["rows"], eventlog.attribute(log, windows)):
            row.update(spark_row)
    with open(cfg["result_path"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
