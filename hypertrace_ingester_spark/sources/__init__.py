"""Sources — table loading (SURVEY.md §2.1 S1/S2 analogs).

The reference reads Kafka topics with registry serdes
(span-normalizer/.../SpanNormalizer.java:55-61); here the sources are
columnar tables (parquet locally, Iceberg in production). Explicit schemas
where they matter; otherwise parquet's embedded schema is authoritative,
and Catalyst pushes column pruning + predicates into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. On a cluster this becomes
    ``spark.read.format("iceberg").load(...)`` — same call shape, and the
    downstream plan (pruning/pushdown) is identical."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def widen(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ONLY when the source is narrower than the cluster.

    A small-SF table is typically one parquet file → one input split → a
    compute-heavy stage (regex extraction, shingle hashing) runs serially
    regardless of core count. At real scale the scan already has thousands
    of splits and this is a no-op (no extra shuffle).

    The partition count is read from the JVM-side RDD (``df._jdf.rdd()``),
    not ``df.rdd`` — the Python RDD property builds the full
    Arrow-deserializer conversion plan on every call, which is driver-side
    overhead in hot query-construction paths (round-2 ADVICE)."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        current = df._jdf.rdd().getNumPartitions()
    except Exception:  # non-JVM backends (e.g. Spark Connect) fall back
        current = df.rdd.getNumPartitions()
    if current < target:
        return df.repartition(target)
    return df
