"""Scaling-efficiency benchmark: the same pipeline job at two parallelism
levels over the SAME materialized input, per BASELINE.json's north rule
(throughput scaling efficiency N→4N executors).

Two modes:
- threads:   local[N] vs local[4N] in one JVM;
- executors: local-cluster[N,8,12g] — N separate executor JVMs × 8 cores,
             the in-sandbox analog of an N-executor cluster.

Each level runs in a fresh worker subprocess (this file with ``--worker
N``; own JVM — fair JIT state) driven over stdin one rep at a time: one
untimed warmup rep, then ``--reps`` measured reps; median + min reported,
plus a RESULT_JSON line. BENCH/BASELINE.md holds the curated results and
the scaling analysis (hardware ceilings measured via microbenchmarks).

Rep order follows from the mode. Threads mode keeps both level workers
alive and alternates reps ABAB (only one executes at a time), so an
episodic host slowdown lands on reps of BOTH levels rather than silently
poisoning whichever level ran during the episode — the failure mode that
produced round-3's 32-slower-than-8 artifacts. Executors mode runs one
level at a time: both levels alive = ~108 GB of Xms-pinned heaps on a
128 GiB box, and the JVM gateway dies.

CPU pinning (round-3 methodology fix): each level is pinned with
``taskset`` to exactly its core budget (N cores for threads mode, N×8 for
executors mode). Without pinning, the "8-core" level borrows all 32
physical cores' cache and turbo headroom (8 worker threads migrate
freely), understating the small level's true cost and adding 2.3×
run-to-run spread in executors mode from scheduler migration; pinned, the
levels measure what N-core hardware actually does, and the JVM sizes its
GC/compiler pools from the affinity mask. A level is left unpinned (and
reported so) when ``taskset`` is missing or the host has too few cores.

Usage: python scripts/scaling_bench.py [--rows 4000000] [--reps 3]
       [--levels 8 32] [--mode threads|executors] [--narrow] [--noop]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SCRATCH = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def worker(args) -> None:
    """One level's JVM: print READY, run one rep per RUN line on stdin and
    answer ``REP <sec> <spin>``, print ``RESULT {...}`` on QUIT or EOF."""
    import bench
    from hypertrace_ingester_spark.plans.pipeline import PipelineConfig, run_pipeline
    from hypertrace_ingester_spark.session import get_spark

    n = args.worker
    if args.mode == "executors":
        # N separate executor JVMs x 8 cores — the in-sandbox analog of an
        # N-executor cluster (own heap + GC per executor, shared host DRAM)
        master, cores = f"local-cluster[{n},8,12288]", n * 8
        extra = {"spark.executor.memory": "12g", "spark.driver.memory": "8g",
                 "spark.executor.extraJavaOptions": "-XX:+UseParallelGC -Xmn4g"}
    else:
        master, cores, extra = f"local[{n}]", n, {}
    spark = get_spark(app_name=f"scaling_{args.mode}_{n}", master=master,
                      shuffle_partitions=max(cores, 8), extra_conf=extra)
    if args.narrow:
        # the narrow input is ~20x smaller on disk, so the default 128 MB
        # maxPartitionBytes would pack it into ~1 input split and serialize
        # the parse stage — size splits to the SAME task count the wide input
        # gets (~1 split per 128 MB of wide bytes ~ 64 splits at 4M rows),
        # keeping the two plans task-for-task comparable
        nbytes = sum(
            os.path.getsize(os.path.join(args.input_dir, f))
            for f in os.listdir(args.input_dir) if f.endswith(".parquet")
        )
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(max(nbytes // 64, 1 << 20)))
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
    seqs = spark.read.parquet(args.input_dir)

    if args.noop:
        # compute-only decomposition: the full parse -> enrich -> route DAG
        # with every routed row (token payload included) materialized into
        # Spark's built-in `noop` batch writer — all the engine work minus
        # the parquet encode + tmpfs page faults of the sink. Scaling of THIS
        # variant is the engine's own N->4N behavior with the one-DRAM-domain
        # write substrate removed; the aggregate stage is excluded because
        # in the real pipeline it re-reads the written sink with column
        # pruning (tokens never read), i.e. it belongs to the write side.
        from hypertrace_ingester_spark import datagen
        from hypertrace_ingester_spark.operators import parse as parse_ops
        from hypertrace_ingester_spark.plans.pipeline import hot_chain

        def one_rep():
            t0 = time.time()
            hot_chain(*datagen.default_dims(spark), parse_ops.DEFAULT_DROP).apply(
                seqs).write.format("noop").mode("overwrite").save()
            return time.time() - t0, None
    else:
        def one_rep():
            out = tempfile.mkdtemp(prefix=f"scale_{n}_", dir=SCRATCH)
            t0 = time.time()
            m = run_pipeline(spark, seqs, PipelineConfig(out_dir=out))
            dt = time.time() - t0
            shutil.rmtree(out, ignore_errors=True)
            return dt, m["total_routed_rows"]

    routed_rows = None
    print("READY", flush=True)
    for line in sys.stdin:
        if line.strip() == "QUIT":
            break
        dt, routed_rows = one_rep()
        print(f"REP {dt:.3f} {bench.spin_probe()}", flush=True)
    print("RESULT " + json.dumps({"n": n, "routed": routed_rows}), flush=True)


def _err_path(mode: str, n: int) -> str:
    return os.path.join(tempfile.gettempdir(), f"scale_worker_{mode}_{n}.err")


def _await(p, prefix: str) -> str:
    """The worker's next line starting with ``prefix``; "" if it exited."""
    line = p.stdout.readline()
    while line and not line.startswith(prefix):
        line = p.stdout.readline()
    return line


def run_levels(args, input_dir: str) -> dict:
    """Run every level's reps; threads mode alternates the levels ABAB with
    both workers alive, executors mode runs each level's reps in turn."""
    groups = [args.levels] if args.mode == "threads" else [[n] for n in args.levels]
    flags = [f for f, on in (("--narrow", args.narrow), ("--noop", args.noop)) if on]
    results = {}
    for group in groups:
        procs, pinned = {}, {}
        for n in group:
            cores = n * 8 if args.mode == "executors" else n
            cmd = [sys.executable, os.path.abspath(__file__), "--worker", str(n),
                   "--mode", args.mode, "--input-dir", input_dir, *flags]
            # record whether THIS level actually got pinned — taskset may be
            # missing or the level may need more cores than the host has, and
            # a silently-unpinned level must not be reported as pinned
            pinned[n] = bool(shutil.which("taskset") and cores <= os.cpu_count())
            if pinned[n]:
                cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
            # stderr to a file, not DEVNULL: a worker that dies mid-rep (one
            # did, silently, during a host-stall episode) must leave its
            # traceback somewhere findable
            with open(_err_path(args.mode, n), "w") as errf:
                procs[n] = subprocess.Popen(
                    cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                    stderr=errf, text=True, bufsize=1,
                )
        try:
            for n in group:  # wait for session init before any timing
                if not _await(procs[n], "READY"):
                    raise RuntimeError(f"worker {n} died before READY "
                                       f"(stderr in {_err_path(args.mode, n)})")
            times = {n: [] for n in group}
            spins = {n: [] for n in group}
            for rep in range(args.reps + 1):  # rep 0 = untimed warmup
                for n in group:
                    procs[n].stdin.write("RUN\n")
                    procs[n].stdin.flush()
                    parts = _await(procs[n], "REP ").split()
                    if not parts:
                        raise RuntimeError(f"worker {n} died mid-rep "
                                           f"(stderr in {_err_path(args.mode, n)})")
                    if rep > 0:
                        times[n].append(float(parts[1]))
                        spins[n].append(float(parts[2]))
                        print(f"  rep {rep} {args.mode}={n}: {times[n][-1]:.1f}s "
                              f"(spin {spins[n][-1]})", flush=True)
            for n in group:
                procs[n].stdin.write("QUIT\n")
                procs[n].stdin.flush()
                line = _await(procs[n], "RESULT ")
                r = json.loads(line[len("RESULT "):]) if line else {"n": n, "routed": None}
                results[n] = {**r, "times": times[n], "spins": spins[n],
                              "pinned": pinned[n]}
        finally:
            for p in procs.values():
                try:
                    p.stdin.close()
                except OSError:
                    pass
                try:
                    p.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    p.kill()
    return results


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=4_000_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--levels", type=int, nargs=2, default=[8, 32])
    ap.add_argument("--mode", choices=["threads", "executors"], default="threads",
                    help="threads: local[N], reps interleaved ABAB; executors: "
                         "local-cluster[N,8,12g] (levels are executor counts, "
                         "e.g. 1 4), one level at a time")
    ap.add_argument("--narrow", action="store_true",
                    help="payload-decomposition experiment: identical rows and "
                         "plan, but the tokens array truncated to 1 element "
                         "(~zero payload bytes). Parse/enrich/route never "
                         "compute over tokens content — it is pure carried "
                         "payload — so this isolates how the PLAN scales from "
                         "how moving payload bytes through one DRAM domain "
                         "scales. n_tok (used by the histogram) is untouched.")
    ap.add_argument("--noop", action="store_true",
                    help="compute-only decomposition: full parse/enrich/route "
                         "DAG with every routed row (payload included) "
                         "materialized into Spark's built-in noop writer — "
                         "engine scaling with the parquet-encode + tmpfs "
                         "page-fault write substrate removed.")
    ap.add_argument("--worker", type=int, default=None, help=argparse.SUPPRESS)
    ap.add_argument("--input-dir", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.worker is not None:
        return worker(args)

    suffix = "_narrow" if args.narrow else ""
    input_dir = os.path.join(SCRATCH, f"bench_seq_{args.rows}{suffix}.parquet")
    if not os.path.exists(os.path.join(input_dir, "_SUCCESS")):
        shrink = (
            ".withColumn('tokens', F.slice(F.col('tokens'), 1, 1))" if args.narrow else ""
        )
        # the host's default master, not local[32]: 32 concurrent writers
        # on a small heap make parquet shrink its row groups, so the input
        # layout would depend on the heap it was generated with
        gen = (
            "import sys; sys.path.insert(0, {repo!r})\n"
            "from hypertrace_ingester_spark.session import get_spark\n"
            "from hypertrace_ingester_spark import datagen\n"
            "from pyspark.sql import functions as F\n"
            "spark = get_spark()\n"
            "datagen.generate_sequences(spark, {rows}, partitions=128){shrink}"
            ".write.mode('overwrite').parquet({inp!r})\n"
        ).format(repo=REPO, rows=args.rows, inp=input_dir, shrink=shrink)
        subprocess.run([sys.executable, "-c", gen], check=True, timeout=3600)

    results = run_levels(args, input_dir)
    for n in args.levels:
        r = results[n]
        r["median_sec"] = statistics.median(r["times"])
        r["min_sec"] = min(r["times"])
        r["throughput"] = args.rows / r["median_sec"]
        print(f"{args.mode}={n}: median {r['median_sec']:.1f}s min {r['min_sec']:.1f}s "
              f"({r['throughput']:.0f} seq/s), times={[round(t,1) for t in r['times']]}")

    n, n4 = args.levels
    speedup = results[n4]["throughput"] / results[n]["throughput"]
    efficiency = speedup / (n4 / n)
    print(f"speedup {speedup:.2f}x over {n4//n}x {args.mode} -> scaling efficiency {efficiency:.2f}")
    min_speedup = (args.rows / results[n4]["min_sec"]) / (args.rows / results[n]["min_sec"])
    print("RESULT_JSON " + json.dumps({"mode": args.mode, "rows": args.rows,
                                       "narrow": args.narrow, "noop": args.noop,
                                       "interleaved": args.mode == "threads",
                                       "min_based_efficiency": min_speedup / (n4 / n),
                                       "pinned": all(r["pinned"] for r in results.values()),
                                       "levels": args.levels,
                                       "results": {str(k): v for k, v in results.items()},
                                       "speedup": speedup, "efficiency": efficiency}))


if __name__ == "__main__":
    main()
