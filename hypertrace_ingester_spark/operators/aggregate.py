"""AGGREGATE stage — metrics-generator analog (SURVEY.md §2.6).

The reference accumulates (5s-truncated timestamp, attr-tuple) counts in a
state store and emits OTLP gauges after a quiesce wait
(hypertrace-metrics-generator/.../MetricsProcessor.java:75-136,
MetricEmitPunctuator.java:56-115). On bounded input the state store collapses
into a plain ``groupBy`` — partial (map-side) aggregation gives the same
partial/final pattern Kafka Streams implements by hand.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources.compaction import parquet_files

METRIC_WINDOW_MS = 5_000  # metric.aggregation.timeMs analog (metrics-gen conf:14)

# one definition of each aggregate's keys and values, shared by the Spark
# aggregate and the driver one so the two cannot drift
METRIC_KEYS = ("sink", "tenant_id", "bucket_start_ms", "status_state")
METRIC_COUNT = "num_rows"
METRIC_SUMS = (("sum_tokens", "n_tok"), ("error_rows", "error_count"))  # (output, input)
HIST_KEYS = ("sink", "tok_bucket")
HIST_SUMS = (("sum_tokens", "n_tok"),)


def _schema(keys: tuple[str, ...], sums: tuple[tuple[str, str], ...]) -> pa.Schema:
    return pa.schema(
        [(k, pa.int64() if k == "bucket_start_ms" else pa.string()) for k in keys]
        + [(name, pa.int64()) for name in (METRIC_COUNT, *(n for n, _ in sums))])


METRICS_SCHEMA = _schema(METRIC_KEYS, METRIC_SUMS)
HIST_SCHEMA = _schema(HIST_KEYS, HIST_SUMS)
# the routed columns the metrics read (never ``tokens``), and those both
# aggregates read
METRIC_INPUTS = tuple("ts_ms" if k == "bucket_start_ms" else k for k in METRIC_KEYS) + tuple(
    c for _, c in METRIC_SUMS)
ROUTED_INPUTS = tuple(dict.fromkeys(METRIC_INPUTS + HIST_KEYS + tuple(c for _, c in HIST_SUMS)))

HIST_BUCKETS = ["1-16", "17-64", "65-256", "257-1024", "1025-4096"]

# The aggregate step's one bound: routed files holding at most this many
# rows are aggregated on the driver with pyarrow, more through Spark
# (read_routed picks the form, write_metrics / write_histogram take
# either). On a 4-core box the driver metrics over one file, ~1 group per 2
# rows: 2k rows 4 ms, 200k rows 92 ms, 1M rows 0.47 s (peak Python RSS
# over the post-import baseline +52 MB, mostly pyarrow's first-call setup,
# +133 MB and +286 MB). Both run_pipeline aggregates over a 970k-row,
# 48-file fan-out (364k metric groups): 0.50-0.59 s on the driver against
# 1.30-1.61 s through Spark, so the driver path still wins at the bound.
LOCAL_METRICS_MAX_ROWS = 1_000_000


def _aggregate(routed: DataFrame, keys: list[Column],
               sums: tuple[tuple[str, str], ...]) -> DataFrame:
    return routed.groupBy(*keys).agg(
        F.count(F.lit(1)).alias(METRIC_COUNT),
        *[F.sum(src).cast("long").alias(name) for name, src in sums],
    )


def sink_metrics(routed: DataFrame, window_ms: int = METRIC_WINDOW_MS) -> DataFrame:
    """A1 analog: key = (sink, tenant, 5s bucket, status attrs) → count + token sum.

    MetricsProcessor.java:129-136 builds the key as uuid5(name + sorted attr
    tuple); grouping columns ARE that key here — no hashing needed, the shuffle
    hash-partitions on the same tuple."""
    bucket = F.col("ts_ms") - F.pmod(F.col("ts_ms"), F.lit(window_ms))
    keys = [bucket.alias(k) if k == "bucket_start_ms" else F.col(k) for k in METRIC_KEYS]
    return _aggregate(routed, keys, METRIC_SUMS)


def token_histogram(routed: DataFrame) -> DataFrame:
    """F4 token-length histogram per sink (buckets 1-16 … 1025-4096)."""
    return _aggregate(routed, [F.col(k) for k in HIST_KEYS], HIST_SUMS)


def _unescape_path_name(value: str) -> str | None:
    """A hive directory value as Spark reads it back: ``%XX`` decoded
    (``ExternalCatalogUtils.unescapePathName``), the default partition
    name null."""
    if value == "__HIVE_DEFAULT_PARTITION__":
        return None
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), value)


def _hive_value(path: str, column: str) -> str | None:
    """``column``'s value from the nearest ``<column>=<v>`` directory
    above the file at ``path``."""
    prefix = column + "="
    for part in reversed(os.path.dirname(path).split(os.sep)):
        if part.startswith(prefix):
            return _unescape_path_name(part[len(prefix):])
    raise KeyError(f"{path}: no column or {prefix}<value> directory for {column!r}")


def read_routed(spark: SparkSession, root: str, files: list[str], schema: StructType,
                columns: tuple[str, ...] = ROUTED_INPUTS) -> pa.Table | DataFrame:
    """``columns`` of the routed parquet ``files`` under ``root``, in the
    form the aggregate step runs on: a pyarrow Table read on the driver
    while the files hold at most :data:`LOCAL_METRICS_MAX_ROWS` rows
    (summed from the footers the read opens anyway), else a Spark scan of
    exactly those files. A column a file lacks comes from its hive
    directory (``sink=<v>`` of a ``partitionBy("sink")`` fan-out), decoded
    the way Spark decodes it; a snapshot table's files hold ``sink``
    themselves. The scan reads with ``schema`` (nothing is inferred, so no
    file is listed twice) and ``basePath`` at ``root``: without it a file
    list discovers no partition column and every ``sink`` reads null."""
    footers = [pq.read_metadata(p) for p in files]
    if sum(md.num_rows for md in footers) > LOCAL_METRICS_MAX_ROWS:
        return (spark.read.schema(schema).option("basePath", root).parquet(*files)
                .select(*columns))
    parts = []
    for p, md in zip(files, footers):
        f = pq.ParquetFile(p, metadata=md)
        stored = set(f.schema_arrow.names)
        t = f.read(columns=[c for c in columns if c in stored])
        zeros = pa.array(np.zeros(t.num_rows, np.int32))
        for c in columns:
            if c not in stored:
                t = t.append_column(c, pa.array([_hive_value(p, c)], pa.string()).take(zeros))
        parts.append(t.select(list(columns)))
    return pa.concat_tables(parts) if parts else pa.table({c: pa.nulls(0) for c in columns})


def _aggregate_local(t: pa.Table, keys: tuple[str, ...],
                     sums: tuple[tuple[str, str], ...], schema: pa.Schema) -> pa.Table:
    """:func:`_aggregate` on the driver: the same groups and values (a
    null key is its own group, an all-null sum null) in ``schema``."""
    if t.num_rows == 0:
        return schema.empty_table()
    # single-threaded: with use_threads=True (pyarrow 16) this group_by left
    # pool work behind that aborted the interpreter at exit ("terminate
    # called without an active exception") in most runs over 200k rows
    out = t.group_by(list(keys), use_threads=False).aggregate(
        [([], "count_all")] + [(src, "sum") for _, src in sums])
    names = {"count_all": METRIC_COUNT} | {f"{src}_sum": name for name, src in sums}
    out = out.rename_columns([names.get(c, c) for c in out.column_names])
    return out.select(schema.names).cast(schema)


def staging_path(part_dir: str, prefix: str = "") -> str:
    """A fresh dot-name inside ``part_dir`` (readers skip it) to stage a
    file or directory under before :func:`replace_files` swaps it in."""
    return os.path.join(part_dir, f".{prefix}{uuid.uuid4().hex}")


def replace_files(part_dir: str, staged: list[str], prefix: str = "") -> None:
    """Make the parquet files ``staged`` (at or under
    :func:`staging_path` names) the files of ``part_dir`` whose names start
    with ``prefix``: every other entry with that prefix, and every staging
    leftover of it, is removed, then each staged file is renamed into
    place. The default empty prefix replaces the whole directory, the way
    ``write.mode("overwrite")`` replaces a partition; a per-writer prefix
    replaces only that writer's files."""
    keep = {os.path.relpath(p, part_dir).split(os.sep)[0] for p in staged}
    for name in os.listdir(part_dir):
        if name.startswith((prefix, "." + prefix)) and name not in keep:
            old = os.path.join(part_dir, name)
            if os.path.isdir(old):
                shutil.rmtree(old)
            else:
                os.remove(old)
    tag = uuid.uuid4().hex
    for k, p in enumerate(staged):
        os.rename(p, os.path.join(part_dir, f"{prefix}part-{k:05d}-{tag}.parquet"))


def overwrite_partition(table: pa.Table, part_dir: str, prefix: str = "") -> None:
    """Write ``table`` as ``part_dir``'s one parquet file named with
    ``prefix`` (:func:`replace_files`)."""
    os.makedirs(part_dir, exist_ok=True)
    staged = staging_path(part_dir, prefix)
    pq.write_table(table, staged)
    replace_files(part_dir, [staged], prefix)


def write_metrics(routed: pa.Table | DataFrame, out_dir: str,
                  window_ms: int = METRIC_WINDOW_MS, prefix: str = "") -> None:
    """:func:`sink_metrics` of ``routed`` (a :func:`read_routed` result or
    any routed frame) as the files of ``out_dir`` named with ``prefix``
    (:func:`replace_files`). A Table is aggregated on the driver and
    written as one file; a DataFrame is aggregated by Spark, written under
    a :func:`staging_path` and its files renamed into place. Both give the
    same rows in :data:`METRICS_SCHEMA`."""
    if window_ms == 0:
        raise ValueError("write_metrics: window_ms must be non-zero")
    if isinstance(routed, DataFrame):
        stage = staging_path(out_dir, prefix)
        sink_metrics(routed, window_ms).write.parquet(stage)
        replace_files(out_dir, parquet_files(stage), prefix)
        shutil.rmtree(stage)
        return
    # Spark's ts - pmod(ts, w): numpy's integer mod takes the divisor's sign,
    # as pmod does, so a negative ts floors into the bucket below it
    ts = routed.column("ts_ms").cast(pa.int64())
    vals = ts.fill_null(0).to_numpy()
    bucket = pa.array(vals - np.mod(vals, window_ms), mask=ts.is_null().to_numpy())
    t = routed.append_column("bucket_start_ms", bucket)
    overwrite_partition(_aggregate_local(t, METRIC_KEYS, METRIC_SUMS, METRICS_SCHEMA),
                        out_dir, prefix)


def write_histogram(routed: pa.Table | DataFrame, out_dir: str) -> pa.Table:
    """:func:`token_histogram` of ``routed`` as ``out_dir``'s one file;
    returns it. A Table is aggregated on the driver, a DataFrame by Spark
    and collected (at most sinks × :data:`HIST_BUCKETS` rows)."""
    if isinstance(routed, DataFrame):
        hist = token_histogram(routed).toArrow().cast(HIST_SCHEMA)
    else:
        hist = _aggregate_local(routed, HIST_KEYS, HIST_SUMS, HIST_SCHEMA)
    overwrite_partition(hist, out_dir)
    return hist


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
