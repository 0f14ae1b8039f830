"""AGGREGATE stage — metrics-generator analog (SURVEY.md §2.6).

The reference accumulates (5s-truncated timestamp, attr-tuple) counts in a
state store and emits OTLP gauges after a quiesce wait
(hypertrace-metrics-generator/.../MetricsProcessor.java:75-136,
MetricEmitPunctuator.java:56-115). On bounded input the state store collapses
into a plain ``groupBy`` — partial (map-side) aggregation gives the same
partial/final pattern Kafka Streams implements by hand.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

METRIC_WINDOW_MS = 5_000  # metric.aggregation.timeMs analog (metrics-gen conf:14)

# one definition of the sink_metrics key and values, shared by the Spark
# aggregate and the driver partial so the two cannot drift
METRIC_KEYS = ("sink", "tenant_id", "bucket_start_ms", "status_state")
METRIC_COUNT = "num_rows"
METRIC_SUMS = (("sum_tokens", "n_tok"), ("error_rows", "error_count"))  # (output, input)
METRICS_SCHEMA = pa.schema(
    [(k, pa.int64() if k == "bucket_start_ms" else pa.string()) for k in METRIC_KEYS]
    + [(name, pa.int64()) for name in (METRIC_COUNT, *(n for n, _ in METRIC_SUMS))]
)
# the routed columns the metrics read (never ``tokens``)
METRIC_INPUTS = tuple("ts_ms" if k == "bucket_start_ms" else k for k in METRIC_KEYS) + tuple(
    c for _, c in METRIC_SUMS)

HIST_BUCKETS = ["1-16", "17-64", "65-256", "257-1024", "1025-4096"]


def sink_metrics(routed: DataFrame, window_ms: int = METRIC_WINDOW_MS) -> DataFrame:
    """A1 analog: key = (sink, tenant, 5s bucket, status attrs) → count + token sum.

    MetricsProcessor.java:129-136 builds the key as uuid5(name + sorted attr
    tuple); grouping columns ARE that key here — no hashing needed, the shuffle
    hash-partitions on the same tuple."""
    bucket = F.col("ts_ms") - F.pmod(F.col("ts_ms"), F.lit(window_ms))
    keys = [bucket.alias(k) if k == "bucket_start_ms" else F.col(k) for k in METRIC_KEYS]
    return routed.groupBy(*keys).agg(
        F.count(F.lit(1)).alias(METRIC_COUNT),
        *[F.sum(src).cast("long").alias(name) for name, src in METRIC_SUMS],
    )


def sink_metrics_local(paths: list[str], window_ms: int = METRIC_WINDOW_MS) -> pa.Table:
    """:func:`sink_metrics` over the routed parquet files at ``paths``,
    computed on the driver with pyarrow: no Spark job. The same groups and
    values (a null key is its own group, a null ``ts_ms`` a null bucket, an
    all-null sum null) in :data:`METRICS_SCHEMA`. Reads only
    :data:`METRIC_INPUTS` and holds them in driver memory, so callers bound
    the rows they pass (``plans.streaming_pipeline.LOCAL_METRICS_MAX_ROWS``)."""
    if window_ms == 0:
        raise ValueError("sink_metrics_local: window_ms must be non-zero")
    t = pa.concat_tables([pq.read_table(p, columns=list(METRIC_INPUTS)) for p in paths])
    # Spark's ts - pmod(ts, w): numpy's integer mod takes the divisor's sign,
    # as pmod does, so a negative ts floors into the bucket below it
    ts = t.column("ts_ms").cast(pa.int64())
    vals = ts.fill_null(0).to_numpy()
    bucket = pa.array(vals - np.mod(vals, window_ms), mask=ts.is_null().to_numpy())
    t = t.append_column("bucket_start_ms", bucket)
    # single-threaded: with use_threads=True (pyarrow 16) this group_by left
    # pool work behind that aborted the interpreter at exit ("terminate
    # called without an active exception") in most runs over 200k rows
    out = t.group_by(list(METRIC_KEYS), use_threads=False).aggregate(
        [([], "count_all")] + [(src, "sum") for _, src in METRIC_SUMS])
    names = {"count_all": METRIC_COUNT} | {f"{src}_sum": name for name, src in METRIC_SUMS}
    out = out.rename_columns([names.get(c, c) for c in out.column_names])
    return out.select(METRICS_SCHEMA.names).cast(METRICS_SCHEMA)


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
