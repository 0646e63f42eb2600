"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_code --seed 3 \
        --seconds 20 --trace 0

Runs one workload from the root of a checkout (any working directory
works; paths are resolved from this file). Prints one
``name = value unit`` line per metric and, as the last line of stdout,
one JSON object with the keys correct, attempted, failed and metrics.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same workload with spans around every engine call, reports the
per-layer metrics and writes the spans to ``.perfbench_out/``.

Everything the run creates (inputs, indexes, Spark local dirs, temp
files) lives under ``.perfbench_tmp/`` in the checkout and is deleted
before exit. Exits non-zero without a result when the engine package is
missing or a run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("build_code", "serve_code")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cores() -> int:
    """local[nproc]; PERFBENCH_CORES may lower it, never raise it."""
    nproc = len(os.sched_getaffinity(0))
    cores = int(os.environ.get("PERFBENCH_CORES", nproc))
    if not 1 <= cores <= nproc:
        raise SystemExit(f"perfbench: PERFBENCH_CORES={cores} outside "
                         f"1..{nproc} (nproc)")
    return cores


def _environment(work: str) -> dict:
    """Env for the JVM and the Spark Python workers (set before the JVM
    starts, inherited by both) and the session's extra conf."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # the engine's throwaway warm-up build at session start costs 20-40 s
    # on a 4-core host; instead each workload's set-up (and so setup_s)
    # ends with the workload's own first op, which pays the compilation
    os.environ["SPARK_GRAFT_NO_ENGINE_WARMUP"] = "1"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    }


def _calibrate(spark) -> dict:
    """Host context, not a metric: a fixed numpy matmul probe and the
    best-of-5 one-task Spark job."""
    import numpy as np

    a = np.random.default_rng(0).random((1024, 1024))
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.5:
        a @ a
        n += 1
    gflops = n * 2 * 1024 ** 3 / (time.perf_counter() - t0) / 1e9
    spark.range(1, numPartitions=1).count()
    job = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1, numPartitions=1).count()
        job.append(time.perf_counter() - t0)
    return {"cpu_matmul_gflops": gflops, "spark_job_ms": min(job) * 1e3}


def _shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM
    (Spark's Python workers are its children and exit with it)."""
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    cores = _cores()
    if not os.path.isdir(os.path.join(ROOT, "datastream_io_spark")):
        print(f"perfbench: no datastream_io_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_tmp",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    run = None
    try:
        conf = _environment(work)
        from perfbench.tracing import Tracer
        from perfbench.workloads import (WORKLOADS, Run, layer_metrics,
                                         layer_probes)

        run = Run(args.seed, args.seconds, cores, work, conf,
                  Tracer(bool(args.trace)))
        t0 = time.perf_counter()
        metrics = WORKLOADS[args.workload](run)
        calibration = _calibrate(run.spark)
        if args.trace:
            e2e = metrics
            metrics = layer_metrics(run, layer_probes(run),
                                    time.perf_counter() - t0)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _shutdown(run.spark if run else None)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    for k, v in calibration.items():
        print(f"calibration.{k} = {v:.6g}")
    for k, (v, unit) in run.info.items():
        print(f"{args.workload}.{k} = {v:.6g} {unit}")
    print(f"{args.workload}.op_error_rate = "
          f"{run.failed / max(run.attempted, 1):.6g} ratio "
          f"({run.failed} of {run.attempted})")
    if args.trace:
        for k, (v, unit) in e2e.items():
            print(f"traced.{k} = {v:.6g} {unit}")
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json")
        run.tr.write(path, {"workload": args.workload, "seed": args.seed,
                            "seconds": args.seconds, "cores": cores,
                            "calibration": calibration})
        print(f"spans written to {os.path.relpath(path, ROOT)}")
    for k, (v, unit) in metrics.items():
        print(f"{k} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit}
                    for k, (v, unit) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
