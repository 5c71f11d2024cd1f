#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve-search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (name -> value and unit). ``--trace 0`` reports the
end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` records spans
around the calls into each layer, writes them to
``perfbench/.work/traces/`` and reports the per-layer metrics.

The launcher pins the run environment before Spark starts:
``SPARK_GRAFT_CPUS`` (every CPU this process may use),
``SPARK_GRAFT_DRIVER_MEM`` (2g, refused unless below physical memory),
and Spark's, the JVM's and Python's scratch directories, all under
``perfbench/.work`` so a run writes only inside its checkout.
``BENCHMARK.json`` records the pinned values in its command as
``--cpus all --driver-mem 2g``; the launcher accepts only those.
Everything a run writes under ``perfbench/.work``, except its trace,
is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("serve-search", "batch-analytics")
#: files the program under test must provide
REQUIRED = ("memories_spark/__init__.py", "memories_spark/session.py", "tests/parity.py")
#: driver JVM heap: the session's own default (16g) exceeds the memory
#: of a 16 GB machine
DRIVER_MEM = "2g"


def _mem_bytes(text: str) -> int:
    m = re.fullmatch(r"(\d+)([kmgt]?)", text.strip().lower())
    if not m:
        raise ValueError(f"bad memory size: {text!r}")
    return int(m.group(1)) * 1024 ** " kmgt".index(m.group(2) or " ")


def _physical_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_environment(run_dir: str) -> dict[str, str]:
    if _mem_bytes(DRIVER_MEM) >= _physical_bytes():
        raise SystemExit(f"driver memory {DRIVER_MEM} is not below physical memory")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # read by the JVM started below, as the reference deployment sets
        # it: resident size tracks live memory, not the malloc arena count
        "MALLOC_ARENA_MAX": "2",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM started below, the launcher's too: its temporary
        # files under this run, no perf-data file in the system /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the console progress bar only draws on stderr
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    }
    os.environ.update(env)
    return env


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the pinned values, named in BENCHMARK.json's command as its record
    ap.add_argument("--cpus", required=True, choices=("all",))
    ap.add_argument("--driver-mem", required=True, choices=(DRIVER_MEM,))
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not in {ROOT}: missing {', '.join(missing)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    env = pin_environment(run_dir)
    sys.path[0] = ROOT  # the checkout root, not this directory

    from perfbench import workloads
    from perfbench.spans import Tracer, instrument_operators

    index_cache = os.path.join(ROOT, ".index_cache")
    cached_before = set(os.listdir(index_cache)) if os.path.isdir(index_cache) else set()
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        with tracer.span("session.start"):
            t0 = time.perf_counter()
            from memories_spark.session import get_spark

            spark = get_spark(app_name=f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
        if args.trace:
            # load every module whose imports the wrappers must rebind
            import memories_spark.extraction  # noqa: F401
            import memories_spark.plans.registry  # noqa: F401
            import memories_spark.search  # noqa: F401

            instrument_operators(tracer)
        if args.workload == "serve-search":
            out = workloads.serve_search(spark, args.seed, args.seconds, tracer, run_dir, session_s)
        else:
            out = workloads.batch_analytics(spark, args.seed, args.seconds, tracer, run_dir,
                                            session_s, ROOT)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        # plan-side indexes the run built over its own generated tables
        if os.path.isdir(index_cache):
            for name in set(os.listdir(index_cache)) - cached_before:
                shutil.rmtree(os.path.join(index_cache, name), ignore_errors=True)

    if args.trace:
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
                    {"workload": args.workload, "seed": args.seed, "env": env})

    metrics = workloads.complete_metrics(out.metrics, bool(args.trace))
    for err in out.errors:
        print(f"perfbench: wrong or failed: {err}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"cpus={env['SPARK_GRAFT_CPUS']} driver_mem={env['SPARK_GRAFT_DRIVER_MEM']}")
    print(f"# attempted={out.attempted} failed={out.failed} "
          f"failed_op_ratio={out.failed / max(1, out.attempted):.4f}")
    for name, (value, unit) in metrics.items():
        print(f"# {name:<40} {value:>14.6f} {unit}")
    print(json.dumps({
        "correct": out.failed == 0 and out.attempted > 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
