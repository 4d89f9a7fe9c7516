"""Steadiness of one workload: run it N times, one seed each, and print
every metric's median, quartiles and spread (interquartile distance over
the median). The bounds in BENCHMARK.json are set from these spreads.

    python3 perfbench/steady.py --workload execution --runs 10 [--trace 1]

Runs are sequential, from the repository root, with the same command and
run length the benchmark declares. Each run's result line is appended to
perfbench/.out/steady-<workload>.jsonl and its stderr (per-pass times, CPU
and host steal) written beside it; the summary goes to stdout.
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


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    log = os.path.join(HERE, ".out", f"steady-{args.workload}.jsonl")
    results = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=600)
        wall = time.perf_counter() - t0
        with open(log[:-len(".jsonl")] + f"-s{seed}.err", "w") as f:
            f.write(proc.stderr)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-3000:])
            print(f"seed {seed}: exit {proc.returncode}")
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        res.update(seed=seed, trace=args.trace, wall_s=wall)
        results.append(res)
        with open(log, "a") as f:
            f.write(json.dumps(res) + "\n")
        print(f"seed {seed}: {wall:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)

    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"\n{args.workload}: {len(results)} runs, failed shares {sorted(shares)}, "
          f"all correct: {all(r['correct'] for r in results)}, "
          f"mean wall {statistics.mean(r['wall_s'] for r in results):.1f}s")
    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>8s} {'bound/3':>8s}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med, q1, q3, sp = spread(vals)
        b = bounds.get(name)
        print(f"{name:40s} {med:12.5g} {q1:12.5g} {q3:12.5g} {sp:8.4f} "
              f"{'' if b is None else f'{b / 3:8.4f}'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
