#!/usr/bin/env python3
"""Benchmark of spcht_spark through its public entry points.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Workloads, sizes and the reasons for them are in perfbench/workloads.json;
metric names and units are in BENCHMARK.json. With ``--trace 0`` the last
line of stdout is a JSON object with every end-to-end metric, with
``--trace 1`` every per-layer metric (from a traced run that also times
the same operations untraced, for the tracing overhead). The line before
it is a readable report with the workload's own metric names.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_ROOT = os.path.join(ROOT, ".perfbench_run")
TRACE_DIR = os.path.join(ROOT, ".perfbench_out")


def load_config(workload: str, size: str) -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    if workload not in spec["workloads"]:
        raise SystemExit(f"unknown workload {workload!r}; have {sorted(spec['workloads'])}")
    w = spec["workloads"][workload]
    cfg = {**spec["host"], **spec["corpus"], **spec["deltas"], **w["settings"]}
    if size != "full":
        cfg.update(spec["sizes"][size])
    return cfg


def prepare_env(rundir: str, cfg: dict) -> str:
    """Keep every file Spark and its workers write inside ``rundir``, and
    let the Python workers import the program from any working dir."""
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(rundir, "spark-local")
    # every JVM (the launcher and the driver) would write a perf-data file
    # under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPCHT_SPARK_DRIVER_MEM"] = cfg["driver_mem"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    return tmp


def start_spark(tmp: str, rundir: str, driver_mem: str):
    from spcht_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    # The heap starts at its full size: a heap that keeps growing faults
    # in new pages during the timed operations, and page faults are what
    # the kernel-time storms of a shared VM slow down (BENCH.md, "Host
    # noise"). On a 4-core VM it cut the page faults of an ETL pass after
    # warm-up from a median of 18k to 2.7k.
    spark = get_spark("perfbench", cores=cores, extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{driver_mem}",
        "spark.sql.warehouse.dir": os.path.join(rundir, "warehouse"),
    })
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit (its
    Python workers end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def metrics_for(names: list[dict], values: dict[str, float], strict: bool) -> dict:
    out = {}
    for m in names:
        if m["name"] not in values and strict:
            raise KeyError(f"workload produced no {m['name']}")
        out[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full",
                    help="'full' as BENCHMARK.json runs it, or a smaller size "
                         "from workloads.json (the smoke test uses 'smoke')")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    cfg = load_config(args.workload, args.size)
    rundir = os.path.join(RUN_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(rundir)
    try:
        tmp = prepare_env(rundir, cfg)
        # importing the workloads imports the program: without it on the
        # path the run fails here, before any result is printed
        import etl_workload
        import index_workloads
        from common import Run
        from host import MemorySampler, cpu_seconds, jvm_gc_and_jit_seconds, steal_seconds

        workloads = {"serve": index_workloads.serve, "descriptor_etl": etl_workload.etl}
        with MemorySampler() as mem:
            t0 = time.perf_counter()
            spark = start_spark(tmp, rundir, cfg["driver_mem"])
            session_s = time.perf_counter() - t0
            try:
                run = Run(spark, cfg, args.seed, args.seconds, bool(args.trace), rundir)
                user0, sys0 = cpu_seconds()
                steal0, (gc0, jit0) = steal_seconds(), jvm_gc_and_jit_seconds(spark)
                values = workloads[args.workload](run)
                user1, sys1 = cpu_seconds()
                steal1, (gc1, jit1) = steal_seconds(), jvm_gc_and_jit_seconds(spark)
            finally:
                stop_spark(spark)
        if run.tracer is not None:
            run.tracer.dump(os.path.join(
                TRACE_DIR, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    # host and JVM figures of the whole workload, to tell the host's
    # spread from the program's
    busy = max(1e-9, (user1 - user0) + (sys1 - sys0))
    run.report.update({"host_sys_frac": (sys1 - sys0) / busy,
                       "host_steal_frac": (steal1 - steal0) / (busy + steal1 - steal0),
                       "jvm_gc_s": gc1 - gc0, "jvm_jit_s": jit1 - jit0})
    if args.trace:
        values["sys_cpu_frac"] = run.report["host_sys_frac"]
        values["session.start_s"] = session_s
        metrics = metrics_for(bench["per_layer"], values, strict=False)
    else:
        values["peak_pss_mb"] = mem.peak / 2**20
        metrics = metrics_for(bench["end_to_end"], values, strict=True)
    failed_frac = run.failed / max(1, run.attempted)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "report": run.report, "failed_frac": failed_frac,
                      "session_start_s": session_s}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
