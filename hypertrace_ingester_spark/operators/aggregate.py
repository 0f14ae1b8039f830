"""AGGREGATE stage — metrics-generator analog (SURVEY.md §2.6).

The reference accumulates (5s-truncated timestamp, attr-tuple) counts in a
state store and emits OTLP gauges after a quiesce wait
(hypertrace-metrics-generator/.../MetricsProcessor.java:75-136,
MetricEmitPunctuator.java:56-115). On bounded input the state store collapses
into a plain ``groupBy`` — partial (map-side) aggregation gives the same
partial/final pattern Kafka Streams implements by hand.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

METRIC_WINDOW_MS = 5_000  # metric.aggregation.timeMs analog (metrics-gen conf:14)

HIST_BUCKETS = ["1-16", "17-64", "65-256", "257-1024", "1025-4096"]


def sink_metrics(routed: DataFrame, window_ms: int = METRIC_WINDOW_MS) -> DataFrame:
    """A1 analog: key = (sink, tenant, 5s bucket, status attrs) → count + token sum.

    MetricsProcessor.java:129-136 builds the key as uuid5(name + sorted attr
    tuple); grouping columns ARE that key here — no hashing needed, the shuffle
    hash-partitions on the same tuple."""
    bucket = (F.col("ts_ms") - F.pmod(F.col("ts_ms"), F.lit(window_ms))).alias("bucket_start_ms")
    return (
        routed.groupBy(F.col("sink"), F.col("tenant_id"), bucket, F.col("status_state"))
        .agg(
            F.count(F.lit(1)).alias("num_rows"),
            F.sum("n_tok").cast("long").alias("sum_tokens"),
            F.sum("error_count").cast("long").alias("error_rows"),
        )
    )


def token_histogram(routed: DataFrame) -> DataFrame:
    """F4 token-length histogram per sink (buckets 1-16 … 1025-4096)."""
    return (
        routed.groupBy("sink", "tok_bucket")
        .agg(F.count(F.lit(1)).alias("num_rows"), F.sum("n_tok").cast("long").alias("sum_tokens"))
    )


def operational_counters(parsed_with_flags: DataFrame) -> DataFrame:
    """A6 analog: per-tenant received/dropped/missing-tenant/bypass counters
    (JaegerSpanPreProcessor.java:68-96 counter instrumentation). One pass over
    the pre-split parse output using conditional sums — no multiple scans."""
    tenant = F.coalesce(F.col("tenant_id"), F.lit("__missing__"))
    return (
        parsed_with_flags.groupBy(tenant.alias("tenant_id"))
        .agg(
            F.count(F.lit(1)).alias("received"),
            F.sum(F.when(F.col("is_dropped"), 1).otherwise(0)).alias("dropped"),
            F.sum(F.when(~F.col("has_tenant"), 1).otherwise(0)).alias("missing_tenant"),
            F.sum(F.when(F.col("is_bypass") & F.col("has_tenant") & ~F.col("is_dropped"), 1)
                  .otherwise(0)).alias("bypass"),
        )
    )


def to_otlp_gauges(metrics: DataFrame, value_col: str = "num_rows",
                   metric_name: str = "num_calls",
                   attr_cols: tuple[str, ...] = ("event_type",),
                   bucket_col: str = "bucket_start_ms") -> DataFrame:
    """A3 — OTLP conversion (MetricEmitPunctuator.java:78-131): each
    windowed count becomes one flattened ResourceMetrics gauge data point:
    metric name, time_unix_nano (window start), double value, and the
    attribute tuple serialized as sorted k=v pairs (the protobuf KeyValue
    list analog)."""
    # null attribute values keep their key ('k=') so the pair is never
    # silently dropped and tuples stay distinguishable
    attrs = F.concat_ws(
        ",",
        F.array_sort(
            F.array(*[
                F.concat(F.lit(c + "="), F.coalesce(F.col(c).cast("string"), F.lit("")))
                for c in attr_cols
            ])
        ),
    )
    return metrics.select(
        F.lit(metric_name).alias("metric_name"),
        (F.col(bucket_col).cast("long") * 1_000_000).alias("time_unix_nano"),
        F.col(value_col).cast("double").alias("gauge_value"),
        attrs.alias("attributes_kv"),
    )
