"""Streaming face of the full pipeline — the reference's Kafka Streams
topology as ONE Structured Streaming job.

The batch DAG (plans/pipeline.py) and this streaming face share every
transformation: ``foreachBatch`` applies the identical
parse → enrich → route stages to each micro-batch and APPENDS to the same
partitioned sink layout, and appends incremental per-batch windowed
metrics (mergeable partial counts; use streaming/jobs.streaming_metrics
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
a snapshot-versioned table with an idempotent ``batch_id`` gate
(``sources/snapshots.commit_stream_batch``) — a retry replay no-ops, which
is exactly-once; the same hook swaps to Iceberg ``writeTo(...).append()``
(whose idempotent commits use the identical recipe) when the runtime jar
exists. On that path the parse → enrich → route chain runs ONCE per batch:
the commit executes it, and the batch metrics are computed from the files
the commit landed (read back column-pruned, never touching ``tokens``)
instead of re-running the chain.

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

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators import enrich as enrich_ops
from ..operators import route as route_ops
from .pipeline import PipelineConfig, dims_or_default, hot_chain


def process_batch(
    batch_df: DataFrame,
    batch_id: int,
    cfg: PipelineConfig,
    ctx: enrich_ops.EnrichContext,
    route_rules: DataFrame,
) -> None:
    """One micro-batch: routed rows APPEND (at-least-once, the reference's
    Kafka Streams ALOS default); per-batch metrics OVERWRITE their own
    ``batch_id=<id>`` partition directory, so a foreachBatch retry
    re-writes the same partition instead of double-appending partials
    (round-2 ADVICE: downstream sums over metrics stay idempotent under
    micro-batch retries — asserted in tests/test_streaming.py). Each
    partition is a mergeable partial (sum downstream), the analog of the
    reference's per-window gauge emissions; the batch pipeline's one-shot
    metrics are the closed-input special case.

    With ``cfg.snapshot_routed`` the chain executes once per batch: the
    commit runs it, and the metrics read back the files that commit staged
    (``Snapshot.added_files``) with column pruning — run_pipeline's
    ``routed_back`` pattern. A replayed ``batch_id`` makes the commit no-op
    without running the chain, so the metrics then come from ``routed``
    itself (still one execution); that rewrites the metrics partition of a
    batch whose commit landed but whose metrics write was lost.

    The chain comes from ``pipeline.hot_chain``: built on the first batch
    that sees this ``ctx`` with these ``route_rules`` (same object) and
    ``cfg.drop_criteria``, then reused. Pass the same context and rules
    frame to every batch."""
    from ..operators import aggregate as agg_ops

    routed = hot_chain(ctx, route_rules, cfg.drop_criteria).apply(batch_df)
    metrics_input = routed
    if cfg.snapshot_routed:
        # exactly-once: idempotent snapshot commit keyed by batch_id — a
        # foreachBatch retry replay of an already-landed batch no-ops
        # (sources/snapshots.py; the Iceberg recipe, stood-in locally)
        from ..sources import snapshots as snap

        table = os.path.join(cfg.out_dir, "routed_snap")
        landed = snap.commit_stream_batch(routed, table, batch_id)
        if landed is not None and landed.added_files:
            metrics_input = batch_df.sparkSession.read.schema(routed.schema).parquet(
                *[os.path.join(table, f) for f in landed.added_files]
            )
    else:
        route_ops.fan_out(
            routed, os.path.join(cfg.out_dir, "routed"), cfg.salt_buckets,
            mode="append",
        )
    agg_ops.sink_metrics(metrics_input, cfg.metric_window_ms).write.mode("overwrite").parquet(
        os.path.join(cfg.out_dir, "metrics", f"batch_id={batch_id}")
    )


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
    the RocksDB/changelog analog). The chain is built here, before the
    query starts, and every batch reuses it. ``ctx`` and ``route_rules``
    default to the session's ``datagen.default_dims``, which
    ``run_pipeline`` shares, so a session builds that chain once."""
    ctx, rules = dims_or_default(spark, ctx, route_rules)
    hot_chain(ctx, rules, cfg.drop_criteria)

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_batch(batch_df, batch_id, cfg, ctx, rules)

    writer = (
        stream.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", os.path.join(cfg.out_dir, "_stream_checkpoint"))
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
