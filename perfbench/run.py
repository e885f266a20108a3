"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload trickle_mor --seed 1 --seconds 10 --trace 0

Run from the root of the repository. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). The line before it is the full report (host sizing,
calibration probes, per-batch times, failure counts). Exits non-zero when
the final table differs from the replay oracle or the program is missing.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
LOOP_GROUP = "perfbench:loop"
# end-to-end metrics: name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "apply_events_per_s": ("1/s", "higher"),
    "batch_p50_s": ("s", "lower"),
    "lookup_p50_ms": ("ms", "lower"),
    "lookup_p95_ms": ("ms", "lower"),
    "executor_cpu_ms_per_kevent": ("ms", "lower"),
    "stored_bytes_per_live_row": ("B", "lower"),
    "read_amp_rows": ("ratio", "lower"),
    "jvm_peak_rss_mb": ("MB", "lower"),
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    return sorted(values)[max(0, math.ceil(q * len(values)) - 1)]


def start_spark(work: str, n_cores: int, heap: int):
    from gobblin_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    # Python workers import the benchmark's converter from the checkout;
    # every scratch file of the JVM and the workers stays in the run's
    # work directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH", "")] if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["GOBBLIN_LOCAL_DIR"] = local
    os.environ["SPARK_DRIVER_MEM"] = f"{heap}m"
    spark = get_spark(
        "perfbench", parallelism=n_cores, shuffle_partitions=n_cores,
        extra_conf={
            # a fixed heap: no resizing during the run
            "spark.driver.extraJavaOptions":
                f"-Xms{heap}m -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "20000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def untraced(run, report: dict, setup_s: float) -> dict:
    """End-to-end metrics: one closed loop with tracing off. The loop's
    Spark jobs run under one job group so their executor CPU time can be
    summed from the status store afterwards."""
    from gobblin_spark.lakehouse.pointread import point_lookup_local
    from perfbench.loop import Leg
    from perfbench.spans import JobGroups, StageReader

    sc = run.spark.sparkContext
    eng, _, _ = run.fresh_engine("run")
    groups = JobGroups(sc)
    prev = groups.enter(LOOP_GROUP + "-warmup", "warm-up")
    try:
        res, = run.loop([Leg(
            eng, point_lookup_local,
            on_timed_start=lambda: groups.enter(LOOP_GROUP, "loop"))])
    finally:
        groups.restore(prev)
    jobs, sums = StageReader().read(sc, [LOOP_GROUP])[LOOP_GROUP]
    chk = run.check(eng)
    shape = run.table_shape(eng, chk["table"]["rows"])
    report.update(loop=run.summary(res), loop_jobs=jobs, check=chk,
                  table_shape=shape)
    vis = max(1, shape["visible_rows"])
    lookup_ms = res["lookup_ms"]
    return {
        "setup_s": setup_s,
        "apply_events_per_s": res["applied"] / res["wall_s"],
        "batch_p50_s": statistics.median(res["batch_s"]),
        "lookup_p50_ms": statistics.median(lookup_ms),
        "lookup_p95_ms": percentile(lookup_ms, 0.95),
        "executor_cpu_ms_per_kevent":
            sums.get("executor_cpu_ms", 0.0) / max(1, res["applied"]) * 1000,
        "stored_bytes_per_live_row": shape["bytes"] / vis,
        "read_amp_rows": shape["manifest_rows"] / vis,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import gobblin_spark.engine
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: "
              f"{exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(gobblin_spark.engine.__file__).startswith(ROOT):
        print("perfbench: gobblin_spark is imported from outside "
              f"{ROOT}", file=sys.stderr)
        return 2
    from perfbench import host
    from perfbench import workloads as W
    from perfbench.loop import Run

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload]
    n_cores = host.cores()
    mem = host.memory_bytes()
    heap = host.heap_mb(mem)
    work = os.path.join(WORK, f"{wl.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_run = time.perf_counter()
    report: dict = {"workload": wl.name, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "host": {"cores": n_cores, "mem_mb": mem >> 20,
                             "heap_mb": heap},
                    "probe_start": host.calibration_probe(n_cores)}
    spark = start_spark(work, n_cores, heap)
    try:
        report["timeline_s"] = {"spark_up": time.perf_counter() - t_run}
        run = Run(spark, wl, args.seed, args.seconds, work)
        setup_s = run.setup()
        report["timeline_s"]["setup_done"] = time.perf_counter() - t_run
        report.update(setup_runs_s=run.setup_times, events=run.n_events)
        if args.trace:
            from perfbench import traced

            values = traced.traced(run, report)
            units = traced.PER_LAYER
        else:
            values = untraced(run, report, setup_s)
            values["jvm_peak_rss_mb"] = host.peak_rss_mb(jvm_pid(spark))
            units = END_TO_END
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:  # another run's work directory is still there
            pass
    report.update(probe_end=host.calibration_probe(n_cores),
                  attempted=run.attempted, failed=run.failed,
                  failed_frac=run.failed / max(1, run.attempted),
                  failures=run.failures[:20],
                  run_wall_s=time.perf_counter() - t_run)
    correct = run.failed == 0
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": units[k][0]}
                    for k in units},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
