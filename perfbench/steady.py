"""Steadiness and tracing-overhead checks for the benchmark.

Run one workload N times, each with another seed, and print every
end-to-end metric's median and quartile spread next to its bound in
BENCHMARK.json::

    python3 perfbench/steady.py --workload query_tail --runs 10

The spread is (Q3 - Q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``.  A metric is "steady" when its spread
is under a third of its bound.

State the tracing overhead of one seed (an untraced and a traced run of
the same inputs; wall time of the whole run and mean time per steady
operation)::

    python3 perfbench/steady.py --workload table_build --trace-overhead --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    """One benchmark run; returns (its result object, its wall seconds)."""
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, check=False)
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        sys.exit(f"run failed (seed {seed}, exit {out.returncode}):\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1]), wall


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def steadiness(spec: dict, workload: str, runs: int, seed0: int) -> None:
    values: dict[str, list[float]] = {}
    for i in range(runs):
        res, wall = run_once(workload, seed0 + i, spec["run_seconds"], 0)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed0 + i}: {wall:5.1f} s wall, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
    print(f"\n{workload}: {runs} runs, seeds {seed0}..{seed0 + runs - 1}")
    print(f"{'metric':20s} {'median':>12s} {'spread':>8s} {'bound':>6s}  verdict")
    for m in spec["end_to_end"]:
        med, sp = spread(values[m["name"]])
        verdict = "steady" if sp < m["bound"] / 3 else "within bound" if sp <= m["bound"] else "TOO WIDE"
        print(f"{m['name']:20s} {med:12.4f} {sp:8.3f} {m['bound']:6.2f}  {verdict}")


def trace_overhead(spec: dict, workload: str, seed: int) -> None:
    plain, plain_wall = run_once(workload, seed, spec["run_seconds"], 0)
    traced, traced_wall = run_once(workload, seed, spec["run_seconds"], 1)
    with open(os.path.join(ROOT, ".perfbench", "results", f"{workload}-s{seed}-t0.json"),
              encoding="utf-8") as f:
        samples = json.load(f)["samples"]
    plain_op = statistics.fmean(s["wall"] for s in samples)
    traced_op = traced["metrics"]["trace.op_wall_s"]["value"]
    unrec = traced["metrics"]["trace.unreconciled_max"]["value"]
    print(f"{workload} seed {seed}: run wall {plain_wall:.1f} s untraced, {traced_wall:.1f} s traced "
          f"({traced_wall - plain_wall:+.1f} s)")
    print(f"mean steady op: {plain_op:.4f} s untraced, {traced_op:.4f} s traced "
          f"({(traced_op / plain_op - 1) * 100:+.1f} %)")
    print(f"largest gap between an op's wall time and the sum of its layer parts: {unrec * 100:.2f} %")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed")
    ap.add_argument("--trace-overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    if args.trace_overhead:
        trace_overhead(spec, args.workload, args.seed)
    else:
        steadiness(spec, args.workload, args.runs, args.seed)


if __name__ == "__main__":
    main()
