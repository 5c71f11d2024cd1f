#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each with another seed,
and print the median, quartiles and relative spread of every metric.

    python3 perfbench/steady.py --workload serve-search --runs 10
    python3 perfbench/steady.py --workload batch-analytics --runs 5 --traced 1

Spread is (q3 - q1) / median over the runs, quartiles as
``statistics.quantiles(values, n=4)`` gives them. For each end-to-end
metric the bound from ``BENCHMARK.json`` is shown next to it; a spread
at or above a third of the bound is flagged. With ``--traced N`` it
also makes N traced runs on the first seeds and reports the tracing
overhead: the traced runs' throughput against the untraced median.
Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[0] = ROOT

from perfbench.stats import quartiles, relative_spread  # noqa: E402


def run_once(command: list[str], workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One run of the benchmark's command, as the run's JSON result
    plus its wall time under ``wall_s``."""
    cmd = command + ["--workload", workload, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall_s = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {proc.returncode})")
    return {**json.loads(lines[-1]), "wall_s": wall_s}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0, help="traced runs to add")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for i in range(args.runs):
        seed = args.first_seed + i
        res = run_once(bench["command"], args.workload, seed, seconds, 0)
        ok = "ok" if res["correct"] else "WRONG"
        print(f"seed {seed}: {ok} wall={res['wall_s']:.1f}s attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]

    summary = {}
    print(f"\n{args.workload}: {args.runs} runs of {seconds} s")
    print(f"{'metric':<22}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}{'bound':>8}")
    for name, vals in values.items():
        q1, med, q3 = quartiles(vals)
        spread = relative_spread(vals)
        bound = bounds.get(name)
        flag = ""
        if bound is not None and spread >= bound / 3:
            flag = "  <-- not below a third of its bound"
        print(f"{name:<22}{med:>14.4f}{q1:>14.4f}{q3:>14.4f}{spread:>9.3f}"
              f"{bound if bound is not None else '':>8}{flag}  {units[name]}")
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "unit": units[name]}

    if args.traced:
        traced = []
        for i in range(args.traced):
            res = run_once(bench["command"], args.workload, args.first_seed + i, seconds, 1)
            print(f"traced seed {args.first_seed + i}: {'ok' if res['correct'] else 'WRONG'} "
                  f"wall={res['wall_s']:.1f}s attempted={res['attempted']} failed={res['failed']}")
            traced.append(res["metrics"])
        t_ops = statistics.median(t["trace.ops_per_s"]["value"] for t in traced)
        overhead = 1.0 - t_ops / summary["ops_per_s"]["median"]
        est = statistics.median(t["trace.cost_ms_per_op"]["value"] for t in traced)
        print(f"\ntracing overhead: traced ops_per_s {t_ops:.4f} vs untraced median "
              f"{summary['ops_per_s']['median']:.4f} -> {overhead:+.1%} "
              f"(recorded tracing cost {est:.1f} ms per operation)")
        summary["tracing_overhead"] = overhead
    print(json.dumps({"workload": args.workload, "runs": args.runs, "summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
