"""Run the benchmark on several seeds and print each end-to-end metric's
median and quartile spread (q3 - q1) / median, next to its bound.

    python3 perfbench/spread.py --workload microbatch --runs 5 [--first-seed 1]

Runs are sequential, never concurrent. Each run's last output line is
kept in ``.perfbench_work/spread-<workload>.jsonl``.
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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    log = os.path.join(ROOT, ".perfbench_work", f"spread-{args.workload}.jsonl")
    values: dict[str, list[float]] = {k: [] for k in bounds}
    walls = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        walls.append(time.time() - t0)
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        detail = json.loads(lines[-2].removeprefix("detail "))
        os.makedirs(os.path.dirname(log), exist_ok=True)  # a run removes it when empty
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, **result, "detail": detail}) + "\n")
        for k in values:
            values[k].append(result["metrics"][k]["value"])
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']}/"
              f"{result['attempted']} run_wall={walls[-1]:.1f}s", flush=True)
    print(f"{'metric':<20}{'median':>14}{'spread':>9}{'bound':>7}")
    for k, v in values.items():
        q1, q2, q3 = statistics.quantiles(v, n=4)
        print(f"{k:<20}{q2:>14.4f}{(q3 - q1) / q2:>9.3f}{bounds[k]:>7}")
    print(f"run wall median {statistics.median(walls):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
