"""Steadiness check: repeat one workload and compare each end-to-end
metric's spread with the bound BENCHMARK.json declares for it.

    python3 perfbench/steady.py --workload crawl_resume_http --runs 10 [--first-seed 1]

Runs ``perfbench/run.py`` once per seed (seeds first-seed, first-seed+1,
...), one at a time, with the declared ``run_seconds``. For each metric
it prints the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``), the relative spread
(q3 - q1) / median, the bound, and whether the spread is under a third
of the bound. Exit code 1 if any run failed or any spread (setup_s
aside) exceeds its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int) -> dict | None:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
        return None
    result = json.loads(lines[-1])
    result["context"] = json.loads(lines[-2])["context"]
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    failed = 0
    for seed in range(args.first_seed, args.first_seed + args.runs):
        result = run_once(args.workload, seed, spec["run_seconds"])
        if result is None or not result["correct"]:
            failed += 1
            continue
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        iters = " ".join(f"{t:.2f}" for t in result["context"]["iteration_s"])
        print(f"seed {seed}: " + ", ".join(
            f"{n}={result['metrics'][n]['value']:.4g}" for n in values)
            + f"; iteration_s {iters}; cpu_s {sum(result['context']['iteration_cpu_s']):.1f}"
            + f"; steal share {result['context']['timed_steal_share']:.3f}", flush=True)

    ok = failed == 0
    print(f"\n{args.workload}: {args.runs} runs, {failed} failed")
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}  steady")
    for m in spec["end_to_end"]:
        vals = values[m["name"]]
        if len(vals) < 2:
            ok = False
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        within = spread <= m["bound"] / 3
        if m["name"] != "setup_s" and spread > m["bound"]:
            ok = False
        print(f"{m['name']:<14}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}"
              f"{m['bound']:>7.2f}  {'yes' if within else 'NO'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
