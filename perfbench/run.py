"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload seq_payload --seed 1 --seconds 12 --trace 0

Run from the repository root. Prints a line of run details (host probes,
free space, quartiles, tail percentile and sample count) and then, as the
last line, the result object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` its per-layer metrics; a per-layer metric of a
layer the workload does not run reads 0. Exits non-zero without a result
when the engine package or a set-up step is missing or fails.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import harness as h  # noqa: E402
import workloads  # noqa: E402

UNITS_FILE = os.path.join(ROOT, "BENCHMARK.json")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import hypertrace_ingester_spark  # noqa: F401  (fails fast in a bare directory)

    with open(UNITS_FILE) as fh:
        spec = json.load(fh)
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    run = workloads.Run(work=work, seed=args.seed, seconds=args.seconds, n_cores=h.cores())
    probe = h.HostProbe()
    free_before = {"work_mb": h.free_mb(work), "shm_mb": h.free_mb("/dev/shm")}
    try:
        values = workloads.execute(workloads.WORKLOADS[args.workload](), run, bool(args.trace))
    finally:
        h.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share the parent
            os.rmdir(os.path.dirname(work))
    unknown = set(values) - set(wanted)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    run.detail.update(
        workload=args.workload, seed=args.seed, trace=args.trace,
        host=probe.finish(),
        free_mb={"before": free_before,
                 "after": {"work_mb": h.free_mb(ROOT), "shm_mb": h.free_mb("/dev/shm")}},
        problems=run.problems[:20],
    )
    print("detail " + json.dumps(run.detail, default=str))
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                    for name, unit in wanted.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
