"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload cube_queries --seed 1 --seconds 10 --trace 0

Run from the repository root: the package is imported from the current
directory, and everything the run writes goes under ``.perfbench_work/``
(scratch, emptied at start and end) and ``.perfbench_out/`` (ledgers of
traced runs).  See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "spark_jobs": "count",
    "peak_rss_mb": "MB",
}


def _environment() -> None:
    """Keep Spark's files inside the checkout and let its Python workers
    import the package (they see PYTHONPATH, not this process's sys.path)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "spark-warehouse")
    # a fixed 2 GB heap: with a growable one the driver's high-water RSS
    # moved by +-20 % between runs with GC timing
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    sys.path[:0] = [HERE, ROOT]


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _next_job_id(spark) -> int:
    """The DAG scheduler's job counter: jobs the application has submitted,
    the streams' and every thread's included."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def run(workload: str, seed: int, seconds: float, trace: bool, wl=None) -> dict:
    """One run of ``workload``; returns the result object printed by main."""
    import workloads
    from workloads import Bench, log

    # imported before tracing is installed, so every module-level copy of a
    # traced function is found and wrapped
    import datawarehouse_code_spark.pipeline  # noqa: F401
    import datawarehouse_code_spark.plans.audit  # noqa: F401
    import datawarehouse_code_spark.plans.registry  # noqa: F401
    import datawarehouse_code_spark.streaming.jobs  # noqa: F401
    from datawarehouse_code_spark import session

    wl = wl or workloads.make(workload, seed)
    b = Bench(WORK, seed, trace)
    if b.ledger:
        import ledger

        ledger.install(b.ledger)
    cpus = str(len(os.sched_getaffinity(0)))

    t0 = time.perf_counter()
    with b.span("bench.setup"):
        spark = session.get_spark("perfbench", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1000).selectExpr("sum(id)").collect()
        wl.make_inputs(b)
    start_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prepare(spark, b)
    prepare_s = time.perf_counter() - t0
    t1 = time.perf_counter()
    with b.paused():
        wl.verify_prepared(b)
    log(f"set-up {start_s:.2f} + prepare {prepare_s:.2f} s; verify {time.perf_counter() - t1:.2f} s")

    passes, lat, jobs, attempted, failed = [], [], [], 0, 0
    t_start = time.perf_counter()
    i = 0
    while not passes or time.perf_counter() - t_start < seconds:
        j0 = _next_job_id(spark)
        t0 = time.perf_counter()
        op_lat, op_failed = wl.iteration(spark, b, i)
        passes.append(time.perf_counter() - t0)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.append(_next_job_id(spark) - j0)
        lat.extend(op_lat)
        attempted += max(len(op_lat), op_failed)
        failed += op_failed
        i += 1

    t1 = time.perf_counter()
    with b.paused():
        failed = min(attempted, failed + wl.check(spark, b))
    log(f"passes {passes}; check {time.perf_counter() - t1:.2f} s")
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    rss = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb(os.getpid())
    metrics = {
        "setup_s": start_s + prepare_s,
        "wall_s": statistics.median(passes),
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "spark_jobs": statistics.median(jobs),
        "peak_rss_mb": rss,
    }
    out = {
        "correct": not b.failures,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()},
    }
    if b.ledger:
        import layers

        files, nbytes, landed = wl.written()
        per_layer, rows = layers.summarize(b, files, nbytes, landed, metrics["wall_s"])
        out["metrics"] = per_layer
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"ledger-{workload}-seed{seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": workload, "seed": seed, "metrics": per_layer,
                       "rows": rows}, f, indent=1)
        log(f"ledger written to {path}")
    return out


def _stop() -> None:
    """Stop the application and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    shutil.rmtree(WORK, ignore_errors=True)
    _environment()
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        _stop()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
