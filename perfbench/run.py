#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload {catalog,service} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Builds its inputs from ``--seed`` inside
``.perfbench_work/`` under the current directory, runs the workload's
set-up, measures for ``--seconds`` seconds of timed operations, checks
every output, and prints the run record and then, as the last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (``metrics.py`` lists both). Exits 1 when any output
check failed, 2 on bad arguments.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    from metrics import WORKLOADS  # noqa: PLC0415

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args(argv)
    if not 0 < args.seconds <= 600:
        p.error("--seconds must be in (0, 600]")
    return args


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (closing its stdin is what ends PySpark's gateway JVM)."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)

    # Engine and oracle imports first: outside a full checkout they fail
    # here, before any output.
    import pyspark  # noqa: PLC0415

    import bench  # noqa: PLC0415  (steal meter)
    from tv_event_streaming_spark.session import (  # noqa: PLC0415
        _driver_java_options,
        get_spark,
    )

    from common import Context  # noqa: PLC0415
    from metrics import assemble  # noqa: PLC0415
    from spans import SparkCounters, Tracer  # noqa: PLC0415
    from wl_catalog import Catalog  # noqa: PLC0415
    from wl_service import Service  # noqa: PLC0415

    classes = {"catalog": Catalog, "service": Service}
    work = os.path.join(
        os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep Spark's scratch, Python temp files and the JVMs' temp files in
    # the checkout (-XX:-UsePerfData: no /tmp/hsperfdata_* files)
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
    tempfile.tempdir = tmp
    n = cores()
    steal0 = bench._proc_stat()
    t0 = time.perf_counter()
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        with tracer.span("session.get_spark"):
            spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                master=f"local[{n}]",
                shuffle_partitions=n,
                extra_conf={
                    "spark.driver.memory": "3g",
                    "spark.driver.extraJavaOptions": f"{_driver_java_options()} {jvm_opts}",
                    "spark.local.dir": tmp,
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        ctx = Context(
            spark=spark,
            tracer=tracer,
            counters=SparkCounters(spark),
            seed=args.seed,
            work=work,
        )
        wl = classes[args.workload](ctx)
        wl.setup()
        # JIT compile time (all compiler threads) is a witness of how far
        # from steady state the timed operations ran
        jit = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        jit_ms0 = jit.getTotalCompilationTime()
        setup_end = time.perf_counter()
        wl.run(args.seconds)
        jit_ms_timed = jit.getTotalCompilationTime() - jit_ms0
        res = wl.result()
        steal = bench._steal_pct(steal0, bench._proc_stat())
        metrics = assemble(args.workload, bool(args.trace), res, ctx, session_s)
        correct = ctx.failed == 0
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "nproc": n,
            "spark_version": pyspark.__version__,
            "python_version": platform.python_version(),
            "steal_pct": steal,
            "session_s": session_s,
            "setup_phases_s": ctx.setup,
            "setup_phase_jobs": ctx.setup_jobs,
            "wall_s": time.perf_counter() - t0,
            "timed_wall_s": time.perf_counter() - setup_end,
            "jit_compile_ms_setup": jit_ms0,
            "jit_compile_ms_timed": jit_ms_timed,
            "samples": res.samples,
            "e2e": res.e2e,
            "layers": res.layers,
            **res.record,
        }
        if tracer.enabled:
            record["self_s"] = tracer.self_times()
            record["total_s"] = tracer.totals()
        print("# record " + json.dumps(record, default=str))
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": ctx.attempted,
                    "failed": ctx.failed,
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        if not correct:
            print(
                f"# FAILED: {ctx.failed} of {ctx.attempted} output checks failed",
                file=sys.stderr,
            )
            return 1
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
