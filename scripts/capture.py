"""Probe-gated captures: wait for a healthy host window, then measure.

The sandbox host has episodic degraded-DRAM regimes (page-fault bandwidth
collapses 1.7 GB/s -> 0.05-0.17 GB/s for minutes to hours; see
BENCH/BASELINE.md "Measurement hygiene"). The pipeline hot path is ~2/3
parquet encode+write of the token payload, so a degraded window inflates
it 2-3x while narrow-column queries barely move. Each mode polls
``bench.host_probe`` and only burns a measurement when the window passes
its gate, appending one JSON line per attempt (skip or fired) to --log.

Modes:
- headline: the e2e pipeline in this process (untimed warmup on the first
  fire, then --reps timed runs); gate fault >= --min-fault (1.5) and spin
  >= 5 Mops; stops once a run beats --target-sec.
- scaling: ``scripts/scaling_bench.py`` in a subprocess (threads mode
  interleaves ABAB, executors mode runs one level at a time); gate fault
  >= --min-fault (1.8 threads, 2.0 executors — 4x12g executors fault
  ~48 GB up front, so a degraded window poisons the 4N level
  disproportionately), spin >= 6 Mops and no stray Spark JVMs; stops once
  the median-based efficiency beats --target-eff.

CRITICAL (CLAUDE.md): no other Spark work may run while a loop is armed —
a concurrent JVM poisons a firing capture.

Usage: python scripts/capture.py headline [--rows 1000000] [--reps 4]
           [--min-fault 1.5] [--target-sec 9.5] [--max-minutes 90]
       python scripts/capture.py scaling [--rows 4000000] [--reps 3]
           [--mode threads|executors] [--min-fault 1.8] [--target-eff 0.46]
           [--max-minutes 240]
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

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

SKIP_SLEEP_S = 120


def capture(probe, ok, fire, log: str, deadline: float, rest_s: float) -> int:
    """Probe; on a failed gate log a skip line and sleep; otherwise
    ``fire(reading) -> (record, hit)``, log the record, and stop when
    ``hit`` is true. ``hit`` is None when the attempt produced no result.
    Exit code 0 once any attempt produced a result, else 1."""
    measured = False

    def append(rec: dict) -> None:
        with open(log, "a") as f:
            f.write(json.dumps(rec) + "\n")

    while time.time() < deadline:
        reading = probe()
        if not ok(reading):
            append({"t": round(time.time()), "skip": reading})
            time.sleep(max(0.0, min(SKIP_SLEEP_S, deadline - time.time())))
            continue
        rec, hit = fire(reading)
        append(rec)
        print(json.dumps(rec), flush=True)
        measured = measured or hit is not None
        if hit:
            return 0
        time.sleep(max(0.0, min(rest_s, deadline - time.time())))
    return 0 if measured else 1


def headline_ok(probe: dict, min_fault: float) -> bool:
    return probe["fault_gbps"] >= min_fault and probe["spin_mops"] >= 5


def scaling_ok(probe: dict, min_fault: float) -> bool:
    return (probe["fault_gbps"] >= min_fault and probe["spin_mops"] >= 6
            and not probe["stray_jvms"])


def headline(args, deadline: float) -> int:
    from hypertrace_ingester_spark import datagen
    from hypertrace_ingester_spark.plans.pipeline import PipelineConfig, run_pipeline
    from hypertrace_ingester_spark.session import get_spark

    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    state = {}

    def run_once(prefix: str) -> float:
        out = tempfile.mkdtemp(prefix=prefix, dir=scratch)
        t0 = time.time()
        run_pipeline(state["spark"], state["seqs"], PipelineConfig(out_dir=out))
        dt = round(time.time() - t0, 3)
        shutil.rmtree(out, ignore_errors=True)
        return dt

    def fire(probe: dict):
        if not state:  # the JVM starts only once a window passes the gate
            spark = state["spark"] = get_spark(app_name="headline", master="local[32]",
                                               shuffle_partitions=32)
            input_dir = os.path.join(scratch, f"bench_seq_{args.rows}.parquet")
            if not os.path.exists(os.path.join(input_dir, "_SUCCESS")):
                datagen.generate_sequences(
                    spark, args.rows, partitions=128
                ).write.mode("overwrite").parquet(input_dir)
            state["seqs"] = spark.read.parquet(input_dir)
            run_once("hl_warm_")  # untimed warmup (JIT)
        runs = [run_once("hl_") for _ in range(args.reps)]
        rec = {"t": round(time.time()), "rows": args.rows, "runs": runs,
               "min": min(runs), "probe_pre": probe,
               "probe_post": bench.host_probe(own_jvms=1)}
        return rec, min(runs) <= args.target_sec

    return capture(lambda: bench.host_probe(own_jvms=1 if state else 0),
                   lambda p: headline_ok(p, args.min_fault), fire,
                   args.log, deadline, rest_s=60)


def scaling(args, deadline: float) -> int:
    def fire(probe: dict):
        cmd = [sys.executable, os.path.join(REPO, "scripts", "scaling_bench.py"),
               "--rows", str(args.rows), "--reps", str(args.reps),
               "--levels", str(args.levels[0]), str(args.levels[1]),
               "--mode", args.mode]
        t0 = time.time()
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
        post = bench.host_probe()
        result = None
        for line in proc.stdout.splitlines():
            if line.startswith("RESULT_JSON "):
                result = json.loads(line[len("RESULT_JSON "):])
        rec = {"t": round(time.time()), "wall_s": round(time.time() - t0, 1),
               "probe_pre": probe, "probe_post": post, "result": result,
               "rc": proc.returncode}
        if result is None:
            rec["stderr_tail"] = proc.stderr[-2000:]
            return rec, None
        return rec, result["efficiency"] >= args.target_eff

    return capture(bench.host_probe, lambda p: scaling_ok(p, args.min_fault), fire,
                   args.log, deadline, rest_s=120)


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="what", required=True)
    hl = sub.add_parser("headline", help="e2e pipeline reps in this process")
    hl.add_argument("--rows", type=int, default=1_000_000)
    hl.add_argument("--reps", type=int, default=4)
    hl.add_argument("--min-fault", type=float, default=1.5,
                    help="GB/s page-fault bandwidth gate (healthy >=2)")
    hl.add_argument("--target-sec", type=float, default=9.5,
                    help="stop early once a run beats this")
    hl.add_argument("--max-minutes", type=float, default=90)
    hl.add_argument("--log", default="/tmp/headline.jsonl")
    sc = sub.add_parser("scaling", help="scripts/scaling_bench.py in a subprocess")
    sc.add_argument("--rows", type=int, default=4_000_000)
    sc.add_argument("--reps", type=int, default=3)
    sc.add_argument("--levels", type=int, nargs=2, default=None,
                    help="parallelism levels (default 8 32 threads, 1 4 executors)")
    sc.add_argument("--mode", choices=["threads", "executors"], default="threads")
    sc.add_argument("--min-fault", type=float, default=None,
                    help="GB/s page-fault bandwidth gate (healthy >=2; "
                         "default 1.8 threads, 2.0 executors)")
    sc.add_argument("--target-eff", type=float, default=0.46,
                    help="stop early once median-based efficiency beats this")
    sc.add_argument("--max-minutes", type=float, default=240)
    sc.add_argument("--log", default="/tmp/scaling_capture.jsonl")
    args = ap.parse_args()
    deadline = time.time() + args.max_minutes * 60
    if args.what == "headline":
        return headline(args, deadline)
    if args.levels is None:
        args.levels = [8, 32] if args.mode == "threads" else [1, 4]
    if args.min_fault is None:
        args.min_fault = 1.8 if args.mode == "threads" else 2.0
    return scaling(args, deadline)


if __name__ == "__main__":
    raise SystemExit(main())
