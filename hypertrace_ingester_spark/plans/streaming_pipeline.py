"""Streaming face of the full pipeline — the reference's Kafka Streams
topology as ONE Structured Streaming job.

The batch DAG (plans/pipeline.py) and this streaming face share every
transformation: ``foreachBatch`` applies the identical
parse → enrich → route stages to each micro-batch and APPENDS to the same
partitioned sink layout, and appends incremental per-batch windowed
metrics (mergeable partial counts, one file per stream in each
``metrics/batch_id=<id>`` partition; use streaming/jobs.streaming_metrics
for the watermark-driven single-emission variant). This is the
SURVEY §0 mapping — "read → narrow transforms → … → N sinks" with Kafka
topic edges replaced by micro-batch lineage — and the deployment shape a
user of the reference's always-on ingester would run:

    stream = spark.readStream.format("kafka")...   # or file source
    q = run_streaming_pipeline(spark, stream, cfg)
    q.awaitTermination()

Exactly-once notes: ``foreachBatch`` + parquet append gives at-least-once
on retries (the reference's Kafka Streams default is also ALOS). With
``cfg.snapshot_routed=True`` the routed sink instead commits each batch to
a snapshot-versioned table with an idempotent ``batch_id`` gate per
stream (``sources/snapshots.commit_stream_batch``; the stream is the
query's checkpoint-stable id) — a retry replay no-ops, which is
exactly-once, and a fresh checkpoint lands its batches as a new stream;
the same hook swaps to Iceberg ``writeTo(...).append()``
(whose idempotent commits use the identical recipe) when the runtime jar
exists. On that path the parse → enrich → route chain runs ONCE per batch:
the commit executes it, and the batch metrics are computed from the files
the commit landed instead of re-running the chain. They go through the
aggregate step ``run_pipeline`` uses (``aggregate.read_routed`` +
``aggregate.write_metrics``, never reading ``tokens``), so a landed batch
within that module's row bound (1M) is aggregated on the driver with
pyarrow and starts no Spark job for its metrics. On 2k-row batches
(4-core box) that took a batch from 5 Spark jobs to 3 and perfbench
``microbatch`` ``op_p50_s`` from 1.40 to 1.06 s; the pyarrow partial
itself takes ~4 ms.

The chain is also BUILT once, not per batch: its column expressions, the
composite enrichment dim (collected into a JVM-local table) and the
broadcast route rules live in the ``EnrichContext``'s memo
(``pipeline.hot_chain``), so a micro-batch pays only a handful of
DataFrame calls to apply them. Measured per 2k-row snapshot batch on a
4-core box, building once took Python→JVM round trips from ~1.7k to
~370 and Spark jobs from 8 to 6 (the composite dim is no longer re-joined
and re-broadcast per batch).
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..operators import aggregate as agg_ops
from ..operators import enrich as enrich_ops
from ..operators import route as route_ops
from .pipeline import PipelineConfig, dims_or_default, hot_chain


def _stream_prefix(app_id: str | None) -> str:
    """The file-name prefix of one stream's metrics partials: every stream
    writes its own files into a ``batch_id=<id>`` partition, so a fresh
    checkpoint's batch ids, which restart at 0, never replace another
    stream's partials."""
    if app_id is None:
        return "stream-default-"
    return f"stream-{hashlib.md5(app_id.encode()).hexdigest()[:16]}-"


def process_batch(
    batch_df: DataFrame,
    batch_id: int,
    cfg: PipelineConfig,
    ctx: enrich_ops.EnrichContext,
    route_rules: DataFrame,
    app_id: str | None = None,
) -> None:
    """One micro-batch: routed rows APPEND (at-least-once, the reference's
    Kafka Streams ALOS default); per-batch metrics OVERWRITE this
    stream's files in their ``batch_id=<id>`` partition directory
    (``aggregate.write_metrics`` with the stream's file-name prefix), so a
    foreachBatch retry re-writes the same partial instead of
    double-appending it (downstream sums over metrics stay idempotent under
    micro-batch retries — asserted in tests/test_streaming.py), and
    another stream's partial of the same batch id, say from a fresh
    checkpoint, stays. Each partial is mergeable (sum downstream), the
    analog of the reference's per-window gauge emissions; the batch
    pipeline's one-shot metrics are the closed-input special case.

    With ``cfg.snapshot_routed`` the chain executes once per batch: the
    commit runs it, and the metrics come from the files that commit staged
    (``Snapshot.added_files``), read by ``aggregate.read_routed``: on the
    driver up to the aggregate module's row bound (no Spark job), through
    Spark above it, as in ``run_pipeline``. A replayed ``batch_id`` makes
    the commit no-op without running the chain, so the metrics then come
    from ``routed`` itself (still one execution); that rewrites the
    metrics partial of a batch whose commit landed but whose metrics
    write was lost. Without ``cfg.snapshot_routed`` they come from
    ``routed`` too, which runs the chain a second time after the fan-out
    append. ``aggregate.write_metrics`` writes either form as this
    stream's files.

    ``app_id`` names the stream for the snapshot sink's exactly-once gate
    (``snapshots.commit_stream_batch``) and for its metrics files:
    ``run_streaming_pipeline`` passes its query's checkpoint-stable id;
    None is one default stream.

    The chain comes from ``pipeline.hot_chain``: built on the first batch
    that sees this ``ctx`` with these ``route_rules`` (same object) and
    ``cfg.drop_criteria``, then reused. Pass the same context and rules
    frame to every batch."""
    routed = hot_chain(ctx, route_rules, cfg.drop_criteria).apply(batch_df)
    if cfg.snapshot_routed:
        # exactly-once: idempotent snapshot commit keyed by batch_id — a
        # foreachBatch retry replay of an already-landed batch no-ops
        # (sources/snapshots.py; the Iceberg recipe, stood-in locally)
        from ..sources import snapshots as snap

        table = os.path.join(cfg.out_dir, "routed_snap")
        landed = snap.commit_stream_batch(routed, table, batch_id, app_id=app_id)
        if landed is not None and landed.added_files:
            routed = agg_ops.read_routed(
                batch_df.sparkSession, table,
                [os.path.join(table, f) for f in landed.added_files],
                routed.schema, agg_ops.METRIC_INPUTS)
    else:
        route_ops.fan_out(
            routed, os.path.join(cfg.out_dir, "routed"), cfg.salt_buckets,
            mode="append",
        )
    agg_ops.write_metrics(
        routed, os.path.join(cfg.out_dir, "metrics", f"batch_id={batch_id}"),
        cfg.metric_window_ms, _stream_prefix(app_id))


def run_streaming_pipeline(
    spark: SparkSession,
    stream: DataFrame,
    cfg: PipelineConfig,
    ctx: enrich_ops.EnrichContext | None = None,
    route_rules: DataFrame | None = None,
    trigger_available_now: bool = True,
):
    """Start the streaming pipeline; returns the StreamingQuery.

    Each micro-batch runs the shared parse→enrich→route DAG and appends to
    ``cfg.out_dir/routed`` partitioned by sink — the per-view topics of the
    reference collapsed into one partitioned table family. Checkpoint state
    lives under ``cfg.out_dir/_stream_checkpoint`` (restart-safe offsets,
    the RocksDB/changelog analog); the query id Structured Streaming keeps
    there names the stream for the snapshot sink's exactly-once gate, so a
    fresh checkpoint is a new stream. The chain is built here, before the
    query starts, and every batch reuses it. ``ctx`` and ``route_rules``
    default to the session's ``datagen.default_dims``, which
    ``run_pipeline`` shares, so a session builds that chain once."""
    ctx, rules = dims_or_default(spark, ctx, route_rules)
    hot_chain(ctx, rules, cfg.drop_criteria)
    checkpoint = os.path.join(cfg.out_dir, "_stream_checkpoint")

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        with open(os.path.join(checkpoint, "metadata")) as fh:
            app_id = json.load(fh)["id"]
        process_batch(batch_df, batch_id, cfg, ctx, rules, app_id)

    writer = stream.writeStream.foreachBatch(per_batch).option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
