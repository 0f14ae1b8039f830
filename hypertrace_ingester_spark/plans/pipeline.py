"""End-to-end parse → enrich → route → aggregate pipeline with
checkpoint/resume and per-partition lineage manifests (north_rule).

Topology mirror of HypertraceIngester.buildTopology
(hypertrace-ingester/.../HypertraceIngester.java:79-127): sub-stages compose
into ONE lazy DataFrame DAG; the Kafka topic edges between the reference's
sub-topologies become either plain lineage (same job) or stage-boundary
parquet checkpoints (the resumable path). A run manifest records, per stage,
row counts, per-sink counts, and the input fingerprint — the per-partition
lineage + metrics manifest the north rule requires.

The reference's metrics generator and view writers are separate
sub-topologies on their own stream threads (HypertraceIngester.java:52-77):
none waits for another, and the metrics generator reads views already
emitted. ``run_pipeline`` keeps that shape. The per-tenant counters are
collected while the routed fan-out is written. The sink metrics and the
token histogram are then computed from the fan-out's files on the driver
with pyarrow (``aggregate.read_local``, ``sink_metrics_local``,
``token_histogram_local``; the streaming face's landed batches use the same
helpers), while those files hold at most
``aggregate.LOCAL_METRICS_MAX_ROWS`` rows; above it they are read back
through Spark and the two aggregate writes run concurrently. Per-sink
counts are summed from the histogram in memory. A helper joins every
concurrent action before the call returns or raises. With the session's
default dims built once (``datagen.default_dims``), a warm call on 20k
rows went from 16 Spark jobs to 9, and with the driver aggregates to 5:
the counters collect (2), the two dim broadcasts and the fan-out write.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections.abc import Callable, Iterator
from concurrent.futures import Future
from dataclasses import dataclass, field
from typing import Any

import pyarrow.parquet as pq
from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import datagen
from ..operators import aggregate as agg_ops
from ..operators import enrich as enrich_ops
from ..operators import group as group_ops
from ..operators import parse as parse_ops
from ..operators import route as route_ops
from ..sources import bucketing
from ..sources.compaction import parquet_files


@dataclass
class PipelineConfig:
    out_dir: str
    drop_criteria: parse_ops.DropCriteria = field(default_factory=lambda: parse_ops.DEFAULT_DROP)
    # None → no pre-write shuffle: each task streams straight into its
    # per-sink files (fastest; file count = tasks × sinks). Set an int to
    # hash-cluster output by (sink, salt) — fewer/larger files per sink at
    # the cost of shuffling the full payload (Iceberg write.distribution-mode
    # =hash equivalent); the salt spreads hot sinks (src-0 ≈ 40%).
    salt_buckets: int | None = None
    metric_window_ms: int = agg_ops.METRIC_WINDOW_MS
    checkpoint_parse: bool = False  # stage-boundary checkpoint for resume
    # write the parse checkpoint as a BUCKETED external table keyed by the
    # group key (P17 pre-keyed layout: the reference produces raw spans
    # keyed (tenant, trace_id) so the grouper never re-partitions,
    # JaegerSpanToAvroRawSpanTransformer.java:58-65). A resumed run's
    # group/join stages on that key then read the bucket layout with NO
    # Exchange — at 100 TB the biggest repeated shuffle becomes a one-time
    # write-side cost. Requires checkpoint_parse.
    bucket_parse_checkpoint: bool = False
    parse_buckets: int = 32
    # opt-in GROUP stage (raw-spans-grouper analog between normalizer and
    # enrichers in the reference topology, HypertraceIngester.java:79-127):
    # gap-sessionize surviving rows per (tenant_id, source) — the
    # (tenant, trace) analog on the sequences domain — and emit one summary
    # row per closed session to out_dir/sessions.
    session_stage: bool = False
    session_gap_ms: int = group_ops.SESSION_GAP_MS
    # STREAMING ONLY, opt-in: commit each micro-batch's routed rows to a
    # snapshot-versioned table (out_dir/routed_snap) with the idempotent
    # batch_id gate — a foreachBatch retry replay no-ops, upgrading the
    # routed sink from parquet-append at-least-once to exactly-once (the
    # Iceberg recipe; sources/snapshots.py is the in-sandbox stand-in).
    # The sink lands as ONE table with `sink` as a column (snapshot
    # manifests replace partition dirs as the pruning metadata).
    snapshot_routed: bool = False


@dataclass(frozen=True, eq=False)
class HotChain:
    """The parse → alive filter → enrich → route chain, built once per
    (context, route rules, drop criteria) by :func:`hot_chain` — the
    reference compiles its filter and enrichment configs once at topology
    start (SpanFilter.java:62-117) the same way. Applying it to a DataFrame
    is a handful of DataFrame calls and no expression building: layered
    ``withColumns`` → ``filter`` → ``select`` → composite-dim broadcast join
    → two ``withColumns`` → route-rules broadcast join. It is the same
    composition as ``parse_sequences`` → alive filter →
    ``enrich_with_bypass`` → ``route``, from the same builders."""

    route_rules: DataFrame
    drop_criteria: parse_ops.DropCriteria
    parse_layers: list[dict[str, Column]]
    alive_predicate: Column
    enrichment: enrich_ops.Enrichment
    routing: route_ops.Routing

    def parse(self, df: DataFrame) -> DataFrame:
        """``parse_sequences`` output: every row, with its flags."""
        return parse_ops.apply_parse(df, self.parse_layers)

    def alive(self, parsed: DataFrame) -> DataFrame:
        """The surviving rows of :meth:`parse`, as ``PARSE_OUTPUT_COLS``."""
        return parsed.filter(self.alive_predicate).select(*parse_ops.PARSE_OUTPUT_COLS)

    def route(self, alive: DataFrame) -> DataFrame:
        """Enrich (with bypass semantics) and route the :meth:`alive` rows."""
        return self.routing.apply(self.enrichment.apply(alive))

    def apply(self, df: DataFrame) -> DataFrame:
        """The routed rows of ``df``."""
        return self.route(self.alive(self.parse(df)))


def hot_chain(ctx: enrich_ops.EnrichContext, route_rules: DataFrame,
              drop_criteria: parse_ops.DropCriteria) -> HotChain:
    """The :class:`HotChain` over ``ctx``, memoised in ``ctx.chain_memo``:
    one slot, reused while the route rules are the same object, the drop
    criteria are equal and the context's enrichment is unchanged. Building
    costs hundreds of Python→JVM round trips (and, on a context's first
    use, the composite-dim collect), so streaming callers pass one context
    and one rules frame to every micro-batch."""
    enrichment = ctx.enrichment()
    memo = ctx.chain_memo
    if (memo is None or memo.route_rules is not route_rules
            or memo.drop_criteria != drop_criteria or memo.enrichment is not enrichment):
        memo = ctx.chain_memo = HotChain(
            route_rules, drop_criteria, parse_ops.parse_layers(drop_criteria),
            parse_ops.alive_predicate(), enrichment, route_ops.Routing.build(route_rules))
    return memo


def dims_or_default(
    spark: SparkSession, ctx: enrich_ops.EnrichContext | None, route_rules: DataFrame | None,
) -> tuple[enrich_ops.EnrichContext, DataFrame]:
    """``ctx`` and ``route_rules``, each defaulting to the session's
    :func:`datagen.default_dims` when ``None``."""
    if ctx is not None and route_rules is not None:
        return ctx, route_rules
    default_ctx, default_rules = datagen.default_dims(spark)
    return (default_ctx if ctx is None else ctx,
            default_rules if route_rules is None else route_rules)


@contextlib.contextmanager
def _concurrent_actions() -> Iterator[Callable[[Callable[[], Any]], Future]]:
    """Yields ``submit(fn)``, which runs the Spark action ``fn`` on a
    ``pyspark.InheritableThread`` and returns a ``Future`` of its result.
    The thread inherits the caller's job group and description (a bare
    thread would lose them). Leaving the block joins every submitted
    action, so none is still running whether the block ends or raises;
    then the first failed action, in submission order, re-raises its
    error. An error raised by the block itself wins."""
    submitted: list[tuple[InheritableThread, Future]] = []

    def submit(fn: Callable[[], Any]) -> Future:
        fut: Future = Future()

        def run() -> None:
            try:
                fut.set_result(fn())
            except BaseException as e:  # re-raised on the calling thread
                fut.set_exception(e)

        thread = InheritableThread(target=run)
        thread.start()
        submitted.append((thread, fut))
        return fut

    try:
        yield submit
    finally:
        for thread, _ in submitted:
            thread.join()
    for _, fut in submitted:
        fut.result()


# the pre-keyed layout's key: the (tenant, trace_id) analog for sequences
PARSE_BUCKET_COLS = ["tenant_id", "source"]
PARSE_SORT_COLS = ["tenant_id", "source", "ts_ms", "doc_id"]


def _parse_ckpt_table(out_dir: str) -> str:
    import hashlib

    return "parsed_ckpt_" + hashlib.md5(out_dir.encode()).hexdigest()[:10]


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest.json")


def load_manifest(out_dir: str) -> dict:
    p = _manifest_path(out_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"stages": {}}


def _write_manifest(out_dir: str, manifest: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    with open(_manifest_path(out_dir), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True, default=str)


def _partition_lineage(df: DataFrame) -> list[dict]:
    """Per-partition row counts — lineage evidence without a full collect.

    Uses a spark_partition_id groupBy (one extra pass over the cached stage
    output), the distributed analog of the reference's per-task counters."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .count()
        .orderBy("partition_id")
        .collect()
    )
    return [{"partition_id": r["partition_id"], "rows": r["count"]} for r in rows]


def _read_back(spark: SparkSession, routed: DataFrame, routed_dir: str) -> DataFrame:
    """The fan-out of ``routed`` read back through Spark. The explicit
    schema keeps an empty fan-out (no files, nothing to infer) readable."""
    return spark.read.schema(routed.schema).parquet(routed_dir)


def run_pipeline(
    spark: SparkSession,
    sequences: DataFrame,
    cfg: PipelineConfig,
    ctx: enrich_ops.EnrichContext | None = None,
    route_rules: DataFrame | None = None,
    resume: bool = False,
    lineage: bool = False,
) -> dict:
    """Run the full DAG; returns the manifest dict (also written to out_dir).

    ``ctx`` and ``route_rules`` default to the session's
    :func:`datagen.default_dims`, so repeated calls in one session collect
    the composite dim and build the hot chain once. The per-tenant counters
    are collected beside the routed fan-out. A fan-out of at most
    ``aggregate.LOCAL_METRICS_MAX_ROWS`` rows (summed from the file
    footers) gets its metrics and histogram on the driver, each written as
    its directory's one parquet file, with no Spark job; a larger one is
    read back through Spark, and its two aggregate writes run concurrently.
    Every action has finished when the call returns or raises. The
    manifest's ``stage_walls`` (beside ``stages``, not inside: stage
    entries stay pure counts) gives the wall seconds of ``build`` (dims and
    chain), ``route`` (through the fan-out write), ``aggregate`` (until
    both aggregates are written and the counters are collected) and
    ``manifest``. ``lineage=True`` adds per-partition row counts of the
    routed files, read back through Spark.

    With ``resume=True``, stages already marked complete in the manifest are
    skipped and their checkpointed output is re-read — restart-safe the way
    the reference resumes from RocksDB state + changelog topics."""
    t0 = time.time()
    manifest = load_manifest(cfg.out_dir) if resume else {"stages": {}}
    manifest.setdefault("config", {})["salt_buckets"] = cfg.salt_buckets
    walls = manifest["stage_walls"] = {}
    last_lap = [t0]

    def lap(stage: str) -> None:
        now = time.time()
        walls[stage] = round(now - last_lap[0], 3)
        last_lap[0] = now

    chain = hot_chain(*dims_or_default(spark, ctx, route_rules), cfg.drop_criteria)
    lap("build")

    # ---- PARSE ----------------------------------------------------------
    parse_ckpt = os.path.join(cfg.out_dir, "_checkpoints", "parsed")
    parse_state = manifest["stages"].get("parse", {})
    resumed_from_ckpt = bool(
        resume and parse_state.get("complete") and parse_state.get("checkpoint")
    )
    if resumed_from_ckpt:
        # resume re-reads the checkpoint only if one was actually written;
        # a complete-but-uncheckpointed parse stage is recomputed (cheap,
        # deterministic) — the route/aggregate skips below still apply
        if parse_state.get("bucketed"):
            # re-declare the bucket layout (the default catalog is
            # in-memory, so a new session has lost it); the planner then
            # drops Exchanges on the bucket key for every downstream
            # group/join — the P17 zero-shuffle resume path
            schema_ddl = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in spark.read.parquet(parse_ckpt).schema
            )
            # the layout is re-declared with the bucket count the checkpoint
            # was WRITTEN with (manifest-recorded), not the current cfg's —
            # a drifted declared count would make the planner drop Exchanges
            # over wrong bucket ids (round-4 review find)
            parsed = bucketing.ensure_bucketed_table(
                spark, _parse_ckpt_table(cfg.out_dir), parse_ckpt, schema_ddl,
                PARSE_BUCKET_COLS,
                int(parse_state.get("buckets", cfg.parse_buckets)),
                PARSE_SORT_COLS,
            )
        else:
            parsed = spark.read.parquet(parse_ckpt)
    else:
        parsed = chain.parse(sequences)
        if cfg.checkpoint_parse and cfg.bucket_parse_checkpoint:
            tbl = _parse_ckpt_table(cfg.out_dir)
            bucketing.write_bucketed(
                parsed, tbl, PARSE_BUCKET_COLS, cfg.parse_buckets,
                sort_cols=PARSE_SORT_COLS, path=parse_ckpt,
            )
            parsed = spark.table(tbl)
        elif cfg.checkpoint_parse:
            parsed.write.mode("overwrite").parquet(parse_ckpt)
            parsed = spark.read.parquet(parse_ckpt)

    counters = agg_ops.operational_counters(parsed)

    alive = chain.alive(parsed)

    # ---- GROUP (opt-in; raw-spans-grouper analog) ------------------------
    n_sessions = None
    if cfg.session_stage and not (
        resume and manifest["stages"].get("sessions", {}).get("complete")
    ):
        sessions = group_ops.session_summary(
            group_ops.sessionize(
                alive, group_col=PARSE_BUCKET_COLS, ts_ms_col="ts_ms",
                tiebreak_col="doc_id", gap_ms=cfg.session_gap_ms,
            ),
            group_col=PARSE_BUCKET_COLS,
            ts_ms_col="ts_ms",
        )
        sessions_dir = os.path.join(cfg.out_dir, "sessions")
        sessions.write.mode("overwrite").parquet(sessions_dir)
        n_sessions = spark.read.parquet(sessions_dir).count()

    # ---- ENRICH + ROUTE (single pass; no branch-union double scan) ------
    # The reference branches bypass spans around enrichment
    # (SpanNormalizer.java:66-70). Expressed as two filter+union branches
    # that costs a second scan of the input; instead enrich ALL surviving
    # rows in one pass and null out the dim-lookup columns for bypass rows
    # afterwards — identical result, half the scans. Enrichment is ONE
    # composite broadcast join instead of three — each chained join
    # re-materializes the wide token payload.
    routed = chain.route(alive)
    routed_dir = os.path.join(cfg.out_dir, "routed")
    metrics_dir = os.path.join(cfg.out_dir, "metrics")
    histogram_dir = os.path.join(cfg.out_dir, "histogram")
    with _concurrent_actions() as submit:
        # the counters do not read the routed output: their job overlaps
        # the fan-out write and the aggregates
        tenant_rows = submit(counters.collect)
        if not (resume and manifest["stages"].get("route", {}).get("complete")):
            route_ops.fan_out(routed, routed_dir, cfg.salt_buckets)
        lap("route")

        # ---- AGGREGATE -------------------------------------------------
        # a fan-out within the bound is aggregated on the driver from its
        # files (no Spark job); a larger one is read back through Spark in
        # two pruned scans (neither touches tokens), written concurrently
        files = parquet_files(routed_dir)
        if agg_ops.footer_rows(files) <= agg_ops.LOCAL_METRICS_MAX_ROWS:
            routed_local = agg_ops.read_local(files)
            agg_ops.overwrite_partition(
                agg_ops.sink_metrics_local(routed_local, cfg.metric_window_ms), metrics_dir)
            hist = agg_ops.token_histogram_local(routed_local)
            agg_ops.overwrite_partition(hist, histogram_dir)
        else:
            routed_back = _read_back(spark, routed, routed_dir)
            metrics = agg_ops.sink_metrics(routed_back, cfg.metric_window_ms)
            submit(lambda: metrics.write.mode("overwrite").parquet(metrics_dir))
            agg_ops.token_histogram(routed_back).write.mode("overwrite").parquet(histogram_dir)
            hist = pq.read_table(histogram_dir, columns=["sink", "num_rows"])
    lap("aggregate")

    # ---- manifest: per-sink counts + per-tenant counters + lineage ------
    # sink counts sum the histogram (at most sinks × token buckets rows) on
    # the driver: no Spark job. An Observation on a write would also cost
    # no job, but on Spark 4.1 it leaves the session unserializable
    # (SparkSession.observationManager), which breaks every later Spark ML
    # model UDF in that session.
    sink_counts: dict = {}
    for sink, n in zip(hist["sink"].to_pylist(), hist["num_rows"].to_pylist()):
        sink_counts[sink] = sink_counts.get(sink, 0) + n
    tenant_counters = [r.asDict() for r in tenant_rows.result()]
    if resumed_from_ckpt:
        # the checkpoint on disk is what it always was — carry the prior
        # record forward instead of rewriting it from the CURRENT cfg, which
        # would erase the checkpoint/bucketed/buckets facts and make the
        # NEXT resume recompute parse from the caller's (possibly
        # placeholder) input (round-4 review find)
        manifest["stages"]["parse"] = dict(parse_state)
    else:
        manifest["stages"]["parse"] = {
            "complete": True,
            "checkpoint": cfg.checkpoint_parse,
            "bucketed": bool(cfg.checkpoint_parse and cfg.bucket_parse_checkpoint),
        }
        if cfg.checkpoint_parse and cfg.bucket_parse_checkpoint:
            manifest["stages"]["parse"]["buckets"] = cfg.parse_buckets
    if cfg.session_stage:
        prior = manifest["stages"].get("sessions", {})
        manifest["stages"]["sessions"] = {
            "complete": True,
            "n_sessions": n_sessions if n_sessions is not None else prior.get("n_sessions"),
        }
    manifest["stages"]["route"] = {"complete": True, "sink_counts": sink_counts}
    manifest["stages"]["aggregate"] = {"complete": True}
    manifest["tenant_counters"] = tenant_counters
    manifest["total_routed_rows"] = int(sum(sink_counts.values()))
    if lineage:
        manifest["stages"]["route"]["partition_lineage"] = _partition_lineage(
            _read_back(spark, routed, routed_dir))
    lap("manifest")
    manifest["elapsed_sec"] = round(time.time() - t0, 3)
    _write_manifest(cfg.out_dir, manifest)
    # S6 exporter: the same counters in Prometheus text exposition format
    # (textfile-collector contract; see sources/prometheus.py)
    from ..sources import prometheus as prom

    prom.write_pipeline_metrics(cfg.out_dir, manifest)
    return manifest
