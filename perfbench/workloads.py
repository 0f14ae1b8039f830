"""The benchmark's workloads. Each one generates its inputs from the seed,
sets up, warms up, runs its operation in a closed loop for the given
seconds, and checks every operation's output after the loop.

Why these three (see README.md for the metric -> layer -> workload map):

- seq_payload: the north-star input, zipf token lengths averaging ~800
  tokens a row, so parquet encode + write of the token payload dominates.
  Exercises payload-encoding changes; catalog_boundary bypasses them.
- microbatch: one client, sequential small batches through the
  exactly-once snapshot sink. Many small jobs plus accumulating commits;
  shows per-job overheads that big batches hide.
- catalog_boundary: the heaviest pandas-UDF/Arrow queries of the catalog,
  which no pipeline workload runs; the pipelines bypass that boundary.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import harness as h

HERE = os.path.dirname(os.path.abspath(__file__))
CATALOG_DATA = os.path.join(HERE, "data", "sf0.01")
# oracle results of the fixed catalog input, kept between runs of a checkout
ORACLE_CACHE = os.path.join(os.path.dirname(HERE), ".perfbench_cache")
CATALOG_QUERIES = ["v_span_event_view", "g_api_nodes", "v_service_call_view",
                   "s_ann_ivf", "d_text_profile"]
LANGS = ["en", "es", "fr", "de", "zh"]


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def write_sequences(path: str, n_rows: int, seed: int, files: int) -> int:
    """Write ``n_rows`` sequences in the ``datagen.generate_sequences``
    recipe (same schema, source_line format and skews) as ``files`` parquet
    files. Drawn with numpy from ``seed``: the same seed gives the same
    bytes, and it is far cheaper than the per-token JVM hashes of the
    library generator. Returns the bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hypertrace_ingester_spark import datagen as dg

    rng = np.random.default_rng(seed)
    base = np.left_shift(1, rng.integers(0, 13, n_rows))
    n_tok = np.minimum(base + rng.integers(0, base), dg.MAX_TOKENS)
    offsets = np.concatenate([[0], np.cumsum(n_tok)]).astype(np.int32)
    tokens = rng.integers(0, dg.VOCAB, int(offsets[-1]), dtype=np.int32)
    src = np.searchsorted(dg._SOURCE_CUM, rng.integers(0, 100, n_rows), side="right")
    misc = rng.integers(0, 100, n_rows).tolist()
    op_i = rng.integers(0, dg.N_OPS, n_rows).tolist()
    status_cum = [b for b, _ in dg._STATUS_CUM]
    status_codes = [v for _, v in dg._STATUS_CUM]
    status = np.searchsorted(status_cum, rng.integers(0, 100, n_rows), side="right").tolist()
    ts = (dg.EPOCH_BASE_MS + rng.integers(0, 86_400_000, n_rows)).tolist()
    ver = rng.integers(1, 3, n_rows).tolist()
    lang = rng.integers(0, len(LANGS), n_rows).tolist()
    lines = []
    for i in range(n_rows):
        m = misc[i]
        tenant = "" if m == 7 else f"tenant-{i % dg.N_TENANTS}"
        op = "healthcheck" if m in (11, 12) else f"op-{op_i[i]}"
        lines.append(
            f"ts={ts[i]} tenant={tenant} op={op} status={status_codes[status[i]]} "
            f"url=/api/v{ver[i]}/{op}?q={i}&lang={LANGS[lang[i]]} "
            f"bypass={'true' if m == 13 else 'false'}")
    table = pa.table({
        "doc_id": [f"doc-{i:012d}" for i in range(n_rows)],
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(tokens)),
        "n_tok": pa.array(n_tok.astype(np.int32)),
        "source": [f"src-{s}" for s in src.tolist()],
        "source_line": lines,
    })
    os.makedirs(path, exist_ok=True)
    step = -(-n_rows // files)
    for k in range(files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"),
                           use_dictionary=["source"])
    return h.dir_bytes(path)[0]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dims(spark):
    """The enrichment context and route rules every pipeline call uses."""
    from hypertrace_ingester_spark import datagen
    from hypertrace_ingester_spark.operators import enrich

    ctx = enrich.EnrichContext(
        endpoints=datagen.endpoints_dim(spark), services=datagen.services_dim(spark),
        status_codes=datagen.status_codes_dim(spark))
    return ctx, datagen.route_rules_dim(spark)


def chain(df, ctx, rules):
    """parse -> enrich -> route exactly as ``run_pipeline`` and
    ``process_batch`` compose them; returns the three lazy frames."""
    from pyspark.sql import functions as F

    from hypertrace_ingester_spark.operators import enrich, parse, route

    parsed = parse.parse_sequences(df)
    alive = parsed.filter(F.col("has_tenant") & ~F.col("is_dropped")).select(
        *parse.PARSE_OUTPUT_COLS)
    enriched = enrich.enrich_with_bypass(alive, ctx)
    return parsed, enriched, route.route(enriched, rules)


# ---------------------------------------------------------------------------
# run scaffolding
# ---------------------------------------------------------------------------


@dataclass
class Run:
    """One benchmark run: its scratch directory, sizing and bookkeeping."""

    work: str
    seed: int
    seconds: float
    n_cores: int
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def record(self, what: str, problems: list[str]) -> None:
        """Count one operation; a non-empty problem list fails it."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems)


def closed_loop(run: Run, op, seconds: float, min_ops: int, max_ops: int) -> list:
    """Call ``op(i)`` back to back until ``seconds`` have passed and at least
    ``min_ops`` ran (or ``max_ops`` ran). Returns (wall, result) per call;
    result is None when the call raised, which counts it as failed."""
    out = []
    deadline = time.perf_counter() + seconds
    while len(out) < max_ops:
        t = time.perf_counter()
        try:
            res = op(len(out))
        except Exception:  # one failed operation must not end the run
            traceback.print_exc(file=sys.stderr)
            res = None
        out.append((time.perf_counter() - t, res))
        if len(out) >= min_ops and time.perf_counter() >= deadline:
            break
    return out


def latency_metrics(walls: list[float], detail: dict) -> dict[str, float]:
    q1, q2, q3 = h.quartiles(walls)
    tail_v, tail_pct, n = h.tail(walls)
    detail.update({"op_walls_s": walls, "op_q1_s": q1, "op_q3_s": q3,
                   "op_tail_percentile": tail_pct, "op_samples": n})
    return {"op_p50_s": q2, "op_tail_s": tail_v}


class Workload:
    """Hooks a workload fills in; the run order lives in :func:`execute`."""

    min_ops = 2
    max_ops = 64
    ladder_min = 2
    ladder_warmups = 2
    traced_op = "pipeline"  # the ladder span that times one whole operation

    def materialize(self, run: Run) -> int:
        """Write the inputs; returns their bytes."""
        return 0

    def prepare(self, spark, run: Run) -> None:
        """Per-session set-up after the session exists."""

    def warm(self, run: Run) -> None:
        raise NotImplementedError

    def op(self, run: Run, i: int, tag: str):
        raise NotImplementedError

    def check(self, run: Run, results: list) -> None:
        raise NotImplementedError

    def e2e(self, run: Run, loop: list) -> dict[str, float]:
        raise NotImplementedError

    def ladder(self, run: Run, tracer: h.Tracer, i: int, root: str, warm: bool = False):
        """One traced pass over the layers, writing under ``root``. A warm-up
        pass skips the whole operation, which set-up already warmed."""
        raise NotImplementedError

    def per_layer(self, run: Run, tracer: h.Tracer, groups, results) -> dict[str, float]:
        raise NotImplementedError


def _ops_checked(run: Run, wl: Workload, loop: list) -> list:
    """Check the loop's outputs; a raised operation is a failed one."""
    ok = []
    for _, res in loop:
        if res is None:
            run.record("op", ["raised"])
        else:
            ok.append(res)
    wl.check(run, ok)
    return ok


def execute(wl: Workload, run: Run, trace: bool) -> dict[str, float]:
    """Set up, warm up, measure, check. Untraced runs return the
    end-to-end metrics. Traced runs set up the same way with the event log
    on and return the per-layer metrics; they then warm up and time the
    operation again in a fresh untraced Spark context of the same JVM, and
    report the difference as the tracing overhead."""
    t0 = time.perf_counter()
    phases = run.detail.setdefault("phase_s", {})

    def phase(name: str, since: float) -> float:
        now = time.perf_counter()
        phases[name] = now - since
        return now

    input_bytes = wl.materialize(run)
    t = phase("input", t0)
    heap = h.driver_heap_mb(2 * input_bytes)
    run.detail.update({"cores": run.n_cores, "driver_heap_mb": heap, "input_bytes": input_bytes})
    log_dir = run.path("eventlog") if trace else None
    spark = h.start_spark(run.work, run.n_cores, heap, log_dir)
    pid = h.jvm_pid(spark)
    try:
        wl.prepare(spark, run)
        t = phase("session", t)
        wl.warm(run)
        t = phase("warm", t)
        setup_s = t - t0
        if not trace:
            loop = closed_loop(run, lambda i: wl.op(run, i, "op"), run.seconds,
                               wl.min_ops, wl.max_ops)
            peak_rss_mb = h.vm_hwm_mb(pid)
            t = phase("loop", t)
            _ops_checked(run, wl, loop)
            phase("check", t)
            metrics = wl.e2e(run, loop)
            metrics.update(setup_s=setup_s, peak_rss_mb=peak_rss_mb)
            return metrics
        # each prefix is its own plan, and its generated code takes a few
        # calls to reach compiled speed; a tracer without a context leaves
        # these warm-up jobs out of every job group
        for i in range(wl.ladder_warmups):
            wl.ladder(run, h.Tracer(), i, run.path("ladder-warm"), warm=True)
            shutil.rmtree(run.path("ladder-warm"))
        tracer = h.Tracer(sc=spark.sparkContext)
        ladder = closed_loop(run, lambda i: wl.ladder(run, tracer, i, run.path("ladder")),
                             run.seconds / 2, wl.ladder_min, wl.max_ops)
        results = _ops_checked(run, wl, ladder)
        spark.stop()  # flushes the event log
        run.detail["spans"] = [span.__dict__ for span in tracer.spans]
        (log,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        groups = h.read_event_log(log, scan_marker=getattr(wl, "scan_marker", None))
        metrics = wl.per_layer(run, tracer, groups, results)
        traced = h.median(tracer.walls(wl.traced_op))

        spark = h.start_spark(run.work, run.n_cores, heap, None)
        wl.prepare(spark, run)
        wl.warm(run)
        loop = closed_loop(run, lambda i: wl.op(run, i, "untraced"), run.seconds / 2,
                           1, wl.max_ops)
        untraced = h.median([w for w, _ in loop])
        _ops_checked(run, wl, loop)
        metrics["trace.overhead_s"] = traced - untraced
        run.detail["untraced_op_s"] = untraced
        return metrics
    finally:
        spark.stop()


# ---------------------------------------------------------------------------
# seq_payload: run_pipeline over a materialized table
# ---------------------------------------------------------------------------

SEQ_LAYERS = ["sources", "parse", "enrich", "route", "aggregate", "pipeline"]


class Sequences(Workload):
    """``run_pipeline`` over a parquet table of ``rows`` sequences."""

    def __init__(self, rows: int) -> None:
        self.rows = rows

    def materialize(self, run: Run) -> int:
        self.input = run.path("input")
        n = write_sequences(self.input, self.rows, run.seed, 4 * run.n_cores)
        self.input_files = h.parquet_files(self.input)
        # warm-up compiles the same plans on a quarter of the rows
        self.warm_input = run.path("warm-input")
        return n + write_sequences(self.warm_input, self.rows // 4, run.seed + 1, 4 * run.n_cores)

    def prepare(self, spark, run: Run) -> None:
        self.spark = spark
        self.seq = spark.read.parquet(self.input)
        self.ctx, self.rules = dims(spark)

    def _pipeline(self, out: str, seq=None) -> dict:
        from hypertrace_ingester_spark.plans.pipeline import PipelineConfig, run_pipeline

        return run_pipeline(self.spark, self.seq if seq is None else seq,
                            PipelineConfig(out_dir=out))

    def warm(self, run: Run) -> None:
        # the first call compiles; the second still runs measurably slower
        warm_seq = self.spark.read.parquet(self.warm_input)
        for _ in range(2):
            self._pipeline(run.path("warm"), warm_seq)
            shutil.rmtree(run.path("warm"))

    def op(self, run: Run, i: int, tag: str):
        out = run.path(f"{tag}-{i}")
        return out, self._pipeline(out)

    def check(self, run: Run, results: list) -> None:
        import checks

        con = checks.connect(run.n_cores, run.path("duckdb"))
        expected = checks.restate(con, self.input_files)
        run.detail["expected_per_sink"] = {k: list(map(int, v)) for k, v in expected.items()}
        for out, *_ in results:
            run.record("run_pipeline", checks.check_pipeline(con, expected, out))
            sink_bytes = h.dir_bytes(os.path.join(out, "routed"), ".parquet")
            run.detail.setdefault("sink_bytes", []).append(sink_bytes[0])
            run.detail.setdefault("sink_files", []).append(sink_bytes[1])
            shutil.rmtree(out)
        con.close()

    def e2e(self, run: Run, loop: list) -> dict[str, float]:
        walls = [w for w, _ in loop]
        m = latency_metrics(walls, run.detail)
        m["rows_per_s"] = self.rows / m["op_p50_s"]
        m["sink_bytes_per_row"] = h.median(run.detail["sink_bytes"]) / self.rows
        return m

    def ladder(self, run: Run, tracer: h.Tracer, i: int, root: str, warm: bool = False):
        """Force each cumulative prefix, then route and aggregate directly,
        then one whole ``run_pipeline``."""
        from hypertrace_ingester_spark.operators import aggregate, route

        tracer.new_trace()
        out = os.path.join(root, str(i))
        parsed, enriched, routed = chain(self.seq, self.ctx, self.rules)
        with tracer.span("sources"):
            noop(self.seq)
        with tracer.span("parse"):
            noop(parsed)
        with tracer.span("enrich"):
            noop(enriched)
        with tracer.span("route"):
            route.fan_out(routed, os.path.join(out, "routed"))
        with tracer.span("aggregate"):
            back = self.spark.read.schema(routed.schema).parquet(os.path.join(out, "routed"))
            aggregate.sink_metrics(back).write.mode("overwrite").parquet(
                os.path.join(out, "metrics"))
            aggregate.token_histogram(back).write.mode("overwrite").parquet(
                os.path.join(out, "histogram"))
        if warm:
            return None
        with tracer.span("pipeline"):
            manifest = self._pipeline(os.path.join(out, "pipeline"))
        routed_bytes, routed_files = h.dir_bytes(os.path.join(out, "routed"), ".parquet")
        agg_rows = sum(_parquet_rows(os.path.join(out, d)) for d in ("metrics", "histogram"))
        shutil.rmtree(os.path.join(out, "routed"))
        shutil.rmtree(os.path.join(out, "metrics"))
        shutil.rmtree(os.path.join(out, "histogram"))
        return os.path.join(out, "pipeline"), manifest, routed_bytes, routed_files, agg_rows

    def per_layer(self, run: Run, tracer: h.Tracer, groups, results) -> dict[str, float]:
        n = max(len(tracer.walls("pipeline")), 1)
        wall = {name: h.median(tracer.walls(name)) for name in SEQ_LAYERS}
        self_s = h.self_times([(k, wall[k]) for k in ("sources", "parse", "enrich", "route")])
        self_s["aggregate"] = wall["aggregate"]
        g = {k: groups.get(k, h.GroupStats()).per(n) for k in SEQ_LAYERS}
        self_g = {
            "sources": g["sources"], "parse": g["parse"].minus(g["sources"]),
            "enrich": g["enrich"].minus(g["parse"]), "route": g["route"].minus(g["enrich"]),
            "aggregate": g["aggregate"], "pipeline": g["pipeline"],
        }
        m: dict[str, float] = {}
        for layer in SEQ_LAYERS:
            m.update(h.layer_metrics(layer, self_g[layer], g[layer], wall[layer], run.n_cores))
        _, manifest, routed_bytes, routed_files, agg_rows = results[-1]
        counters = manifest["tenant_counters"]
        rows_in = sum(c["received"] for c in counters)
        dropped = sum(c["dropped"] + c["missing_tenant"] for c in counters)
        routed_rows = manifest["total_routed_rows"]
        m.update({
            "sources.scan_s": self_s["sources"],
            "parse.self_s": self_s["parse"],
            "parse.rows_in": rows_in,
            "parse.rows_alive": rows_in - dropped,
            "parse.rows_dropped": dropped,
            "enrich.self_s": self_s["enrich"],
            "enrich.rows_out": routed_rows,
            "route.self_s": self_s["route"],
            "route.bytes_per_row": routed_bytes / routed_rows,
            "route.files_written": routed_files,
            "aggregate.self_s": self_s["aggregate"],
            "aggregate.rows_out": agg_rows,
            "pipeline.wall_s": wall["pipeline"],
            "pipeline.other_s": wall["pipeline"] - wall["route"] - wall["aggregate"],
        })
        return m


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
               for d, _, names in os.walk(path) for f in names if f.endswith(".parquet"))


# ---------------------------------------------------------------------------
# microbatch: sequential batches through the exactly-once snapshot sink
# ---------------------------------------------------------------------------


class Microbatch(Workload):
    """Closed loop, one client: batch ``i`` is ``process_batch`` over its
    own input file with ``snapshot_routed=True``."""

    min_ops = 2
    max_ops = 12
    traced_op = "microbatch"

    def __init__(self, batch_rows: int) -> None:
        self.batch_rows = batch_rows

    def materialize(self, run: Run) -> int:
        # batch files b-00000 .. and one warm-up batch, all from one draw
        n = (self.max_ops + 1) * self.batch_rows
        src = run.path("draw")
        total = write_sequences(src, n, run.seed, self.max_ops + 1)
        self.batches = run.path("batches")
        os.makedirs(self.batches)
        for k, f in enumerate(h.parquet_files(src)):
            os.rename(f, os.path.join(self.batches, f"b-{k:05d}.parquet"))
        shutil.rmtree(src)
        self.scan_marker = self.batches
        return total

    def batch_file(self, i: int) -> str:
        return os.path.join(self.batches, f"b-{i + 1:05d}.parquet")

    def prepare(self, spark, run: Run) -> None:
        self.spark = spark
        self.ctx, self.rules = dims(spark)

    def _batch(self, out: str, path: str, batch_id: int) -> None:
        from hypertrace_ingester_spark.plans.pipeline import PipelineConfig
        from hypertrace_ingester_spark.plans.streaming_pipeline import process_batch

        process_batch(self.spark.read.parquet(path), batch_id,
                      PipelineConfig(out_dir=out, snapshot_routed=True), self.ctx, self.rules)

    def warm(self, run: Run) -> None:
        # the first batch compiles; the second still runs measurably slower
        for batch_id in range(2):
            self._batch(run.path("warm"), os.path.join(self.batches, "b-00000.parquet"),
                        batch_id)
        shutil.rmtree(run.path("warm"))

    def op(self, run: Run, i: int, tag: str):
        out = run.path(tag)
        self._batch(out, self.batch_file(i), i)
        return out, i

    def check(self, run: Run, results: list) -> None:
        import checks
        from hypertrace_ingester_spark.sources import snapshots

        if not results:
            return
        con = checks.connect(run.n_cores, run.path("duckdb"))
        out = results[0][0]
        ids = [r[1] for r in results]
        expected = checks.restate(con, [self.batch_file(i) for i in ids])
        run.detail["routed_rows"] = sum(v[0] for v in expected.values())
        for _ in results[:-1]:
            run.record("micro-batch", [])
        # the last batch carries the check of the whole table
        run.record("micro-batch", checks.check_stream(con, expected, out))
        # replaying the last batch id must leave the snapshot unchanged
        table = os.path.join(out, "routed_snap")
        before = (snapshots.current_version(table),
                  checks.count_rows(con, checks.snapshot_files(table)))
        self._batch(out, self.batch_file(ids[-1]), ids[-1])
        after = (snapshots.current_version(table),
                 checks.count_rows(con, checks.snapshot_files(table)))
        run.record("replay", [] if before == after else
                   [f"(version, rows) {before} -> {after} after replaying batch {ids[-1]}"])
        run.detail["manifest_bytes"] = os.path.getsize(
            os.path.join(table, "_snapshots", f"v{before[0]:06d}.json"))
        run.detail["sink_bytes"] = h.dir_bytes(table)[0]
        con.close()
        shutil.rmtree(out)

    def e2e(self, run: Run, loop: list) -> dict[str, float]:
        walls = [w for w, _ in loop]
        m = latency_metrics(walls, run.detail)
        # routed rows of every batch over the whole loop's wall
        m["rows_per_s"] = run.detail["routed_rows"] / sum(walls)
        m["sink_bytes_per_row"] = run.detail["sink_bytes"] / (len(loop) * self.batch_rows)
        return m

    def ladder(self, run: Run, tracer: h.Tracer, i: int, root: str, warm: bool = False):
        """Per batch: the parse -> enrich -> route chain forced alone, the
        snapshot commit and the batch metrics write directly (each re-runs
        the chain), then one whole ``process_batch`` into a second table."""
        from hypertrace_ingester_spark.operators import aggregate
        from hypertrace_ingester_spark.sources import snapshots

        tracer.new_trace()
        _, _, routed = chain(self.spark.read.parquet(self.batch_file(i)), self.ctx, self.rules)
        table = os.path.join(root, "routed_snap")
        with tracer.span("microbatch.chain"):
            noop(routed)
        with tracer.span("snapshots"):
            snapshots.commit_stream_batch(routed, table, i)
        with tracer.span("aggregate"):
            aggregate.sink_metrics(routed).write.mode("overwrite").parquet(
                os.path.join(root, "metrics", f"batch_id={i}"))
        if warm:
            return None
        with tracer.span("microbatch"):
            self._batch(os.path.join(root, "traced"), self.batch_file(i), i)
        ver = snapshots.current_version(table)
        manifest_bytes = os.path.getsize(os.path.join(table, "_snapshots", f"v{ver:06d}.json"))
        return os.path.join(root, "traced"), i, manifest_bytes

    def per_layer(self, run: Run, tracer: h.Tracer, groups, results) -> dict[str, float]:
        n = max(len(tracer.walls("microbatch")), 1)
        chain = h.median(tracer.walls("microbatch.chain"))
        wall = {k: h.median(tracer.walls(k)) for k in ("snapshots", "aggregate", "microbatch")}
        g = {k: groups.get(k, h.GroupStats()).per(n)
             for k in ("microbatch.chain", "snapshots", "aggregate", "microbatch")}
        m: dict[str, float] = {}
        for layer in ("microbatch", "snapshots", "aggregate"):
            own = g[layer] if layer == "microbatch" else g[layer].minus(g["microbatch.chain"])
            m.update(h.layer_metrics(layer, own, g[layer], wall[layer], run.n_cores))
        m.update({
            "microbatch.chain_s": chain,
            "microbatch.jobs_per_batch": g["microbatch"].jobs,
            "microbatch.chain_executions_per_batch": g["microbatch"].input_scans,
            "snapshots.commit_s": wall["snapshots"] - chain,
            "snapshots.manifest_bytes": results[-1][2],
            "aggregate.batch_metrics_s": wall["aggregate"] - chain,
        })
        return m


# ---------------------------------------------------------------------------
# catalog_boundary: the pandas-UDF / Arrow queries of the catalog
# ---------------------------------------------------------------------------


class Catalog(Workload):
    """One pass = each query in CATALOG_QUERIES written to parquet. The
    input is the fixed catalog test data in data/, so the seed does not
    apply here.

    The measured pass is the first one of the session, after the shared
    span derivation: it includes Python worker start-up and code
    generation, which a later pass would not pay. A warm-up pass would
    cost as much again, and the run would no longer fit its time budget."""

    min_ops = 1
    max_ops = 1
    ladder_min = 1
    ladder_warmups = 0  # the traced pass is cold like the measured one
    traced_op = "catalog"

    def prepare(self, spark, run: Run) -> None:
        from hypertrace_ingester_spark.operators import spandom
        from hypertrace_ingester_spark.queries import queries

        self.spark = spark
        self.queries = queries()
        # the span derivation the graph queries share is built once per
        # session; it belongs to set-up
        spandom.spans(spark, CATALOG_DATA).count()

    def _pass(self, out: str, tracer: h.Tracer | None = None) -> str:
        for q in CATALOG_QUERIES:
            df = self.queries[q](self.spark, CATALOG_DATA)
            if tracer is None:
                df.write.mode("overwrite").parquet(os.path.join(out, q))
            else:
                with tracer.span(f"catalog.{q}"):
                    df.write.mode("overwrite").parquet(os.path.join(out, q))
        return out

    def warm(self, run: Run) -> None:
        """No warm-up: see the class docstring."""

    def op(self, run: Run, i: int, tag: str):
        return (self._pass(run.path(f"{tag}-{i}")),)

    def check(self, run: Run, results: list) -> None:
        import checks

        if not results:
            return
        con = checks.connect(run.n_cores, run.path("duckdb"))
        expected = checks.catalog_oracles(con, CATALOG_DATA, CATALOG_QUERIES, ORACLE_CACHE)
        con.close()
        rows = bytes_ = 0
        for (out,) in results:
            problems = []
            for q in CATALOG_QUERIES:
                problems += [f"{q}: {p}" for p in
                             checks.check_catalog(expected[q], os.path.join(out, q))]
                rows += _parquet_rows(os.path.join(out, q))
                bytes_ += h.dir_bytes(os.path.join(out, q), ".parquet")[0]
            run.record("catalog pass", problems)
            shutil.rmtree(out)
        run.detail["result_rows_per_pass"] = rows // len(results)
        run.detail["result_bytes_per_pass"] = bytes_ // len(results)

    def e2e(self, run: Run, loop: list) -> dict[str, float]:
        m = latency_metrics([w for w, _ in loop], run.detail)
        rows = run.detail["result_rows_per_pass"]
        m["rows_per_s"] = rows / m["op_p50_s"]
        m["sink_bytes_per_row"] = run.detail["result_bytes_per_pass"] / rows
        return m

    def ladder(self, run: Run, tracer: h.Tracer, i: int, root: str, warm: bool = False):
        tracer.new_trace()
        with tracer.span("catalog"):
            return (self._pass(os.path.join(root, str(i)), tracer),)

    def per_layer(self, run: Run, tracer: h.Tracer, groups, results) -> dict[str, float]:
        n = max(len(tracer.walls("catalog")), 1)
        m: dict[str, float] = {}
        for q in CATALOG_QUERIES:
            layer = f"catalog.{q}"
            wall = h.median(tracer.walls(layer))
            g = groups.get(layer, h.GroupStats()).per(n)
            m.update(h.layer_metrics(layer, g, g, wall, run.n_cores))
            m[f"{layer}.s"] = wall
            m[f"{layer}.arrow_rows"] = g.arrow_rows
            m[f"{layer}.arrow_bytes"] = g.arrow_bytes
        return m


WORKLOADS = {
    "seq_payload": lambda: Sequences(rows=20_000),
    "microbatch": lambda: Microbatch(batch_rows=2_000),
    "catalog_boundary": lambda: Catalog(),
}
