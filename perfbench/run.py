"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Prints a human-readable report on stderr
and, as the last line of stdout, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``.  Exits non-zero when any output disagrees with the
reference.  Everything the run writes goes under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
# set-up is repeated and its median reported; the first repetition also
# starts the Spark session
SETUP_REPS = 3
# Spark cores: half the machine, at most 2.  The driver JVM's JIT and GC
# threads, the Python driver and one Python worker per task all need a
# core besides the task threads; with every core running a task the
# measured wall follows the scheduler more than the program.
MAX_PARALLELISM = 2
# driver heap, fixed at start-up (-Xms = -Xmx): a heap that grows on demand
# makes the peak RSS depend on when the collector ran
DRIVER_HEAP = "2g"


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _pin_environment() -> str:
    """Pin what the engine would otherwise pick from the host: the Spark
    scratch dir (``session._scratch_dir`` flips between tmpfs and disk on
    free RAM), the driver heap, and the Python path of Spark's workers."""
    local_dir = os.path.join(WORK, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local_dir
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)
    return local_dir


def _start_session(parallelism: int, event_log: str | None = None):
    from distributed_web_crawling_and_indexing_system_gcp_spark.session import (
        build_session,
    )

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(
        app_name="perfbench", master=f"local[{parallelism}]",
        shuffle_partitions=parallelism, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits once its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    marks = [("start", time.perf_counter())]

    local_dir = _pin_environment()
    # the engine must be importable before any work starts
    from perfbench import layers, procstat, workloads

    if args.workload not in workloads.WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2
    parallelism = max(1, min(MAX_PARALLELISM, (os.cpu_count() or 1) // 2))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = procstat.environment(parallelism, local_dir)
    wl = workloads.make(args.workload, args.seed, run_dir)

    # one session per run: restarting a SparkContext inside one Python
    # process breaks PySpark's accumulator channel for every later task
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    spark = None
    try:
        with procstat.PeakRss() as rss:
            setups = []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                if spark is None:
                    spark = _start_session(parallelism, event_log)
                else:
                    wl.teardown()
                wl.setup(spark)
                setups.append(time.perf_counter() - t0)
            marks.append(("setup", time.perf_counter()))
            wl.warmup(spark)
            marks.append(("warmup", time.perf_counter()))
            e2e = wl.measure(spark, args.seconds)
            marks.append(("measure", time.perf_counter()))
        wl.collect_inputs()
        traced = None
        if args.trace:
            traced = layers.traced_run(wl, spark, args.seconds, run_dir, e2e, event_log)
            marks.append(("traced", time.perf_counter()))
        attempted, failed, notes = wl.check()
        if traced is not None and traced["problems"]:
            attempted, failed = attempted + 1, failed + 1
            notes += traced["problems"]
        marks.append(("check", time.perf_counter()))
    finally:
        if spark is not None:
            _shutdown(spark)
    marks.append(("shutdown", time.perf_counter()))
    env["cpu_calibration_after_s"] = procstat.cpu_calibration_s()
    env["loadavg_after"] = list(os.getloadavg())

    e2e_metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "work_per_s": (e2e["work_per_s"], "1/s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "environment": env,
        "setup_reps_s": setups,
        "phases_s": {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])},
        "samples": e2e["samples"], "detail": e2e["detail"],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e_metrics.items()},
        "error_rate": failed / attempted if attempted else 1.0,
        "check_notes": notes,
    }
    if traced is not None:
        report["per_layer"] = traced["metrics"]
        report["span_file"] = traced["span_file"]
        report["traced_end_to_end"] = traced["traced_end_to_end"]
        report["top_self_s"] = traced["top_self_s"]
    with open(os.path.join(run_dir, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    for k, (v, u) in e2e_metrics.items():
        _log(f"{args.workload} {k} = {v:.4f} {u}")
    for k, v in report["detail"].items():
        if not isinstance(v, (list, dict)):
            _log(f"{args.workload} {k} = {v:.4f}")
    _log(f"{args.workload} environment = {json.dumps(env)}")
    _log(f"{args.workload} error_rate = {report['error_rate']:.4f} "
         f"({failed}/{attempted}) samples={e2e['samples']}")
    for n in notes:
        _log(f"MISMATCH {n}")

    if traced is not None:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in traced["metrics"].items()}
    else:
        metrics = report["end_to_end"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
