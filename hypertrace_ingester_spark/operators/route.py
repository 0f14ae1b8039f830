"""ROUTE stage — view-generator fan-out analog (SURVEY.md §2.5).

The reference fans each enriched trace into 6 views written to 6 topics
(MultiViewGeneratorLauncher wiring, HypertraceIngester.java:64-66; per-view
configs view-gen-*/application.conf). Here the sink key comes from a broadcast
route-rules dim (source → sink), and the physical fan-out is ONE pass:
``write.partitionBy("sink")`` — a single scan of the cached enriched DF
producing every sink directory, instead of N scans (the Spark-first answer to
N independent topic writers).

Hot-key skew (src-0 ≈ 40% of rows, mirroring hot tenants) is handled by a
salted repartition before the write plus AQE; the salt only affects physical
file layout, never row content.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT_BUCKETS = 16
DEFAULT_SINK = "sink-default"


@dataclass(frozen=True, eq=False)
class Routing:
    """The route stage built once: the broadcast (source, sink) rules and
    the sink expression; applying it is one join and one projection."""

    rules: DataFrame
    sink: Column

    @classmethod
    def build(cls, route_rules: DataFrame, default_sink: str = DEFAULT_SINK) -> Routing:
        return cls(F.broadcast(route_rules.select("source", "sink")),
                   F.coalesce(F.col("sink"), F.lit(default_sink)))

    def apply(self, enriched: DataFrame) -> DataFrame:
        return enriched.join(self.rules, on="source", how="left").withColumn("sink", self.sink)


def route(enriched: DataFrame, route_rules: DataFrame,
          default_sink: str = DEFAULT_SINK) -> DataFrame:
    """Stamp each row with its sink via broadcast join on source.

    Unmatched sources go to ``default_sink`` (dead-letter analog)."""
    return Routing.build(route_rules, default_sink).apply(enriched)


def salted_repartition(df: DataFrame, key: str = "sink",
                       buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    """Spread hot sink/tenant keys across ``buckets`` shuffle partitions each
    (salting analog of the reference's weighted group partitioner,
    SpanNormalizer.java:72-80 / RawSpansGrouper.java:112-123). The salt column
    is dropped after the exchange — it exists only to balance the shuffle."""
    df = df.withColumn("_salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(buckets)))
    return df.repartition(F.col(key), F.col("_salt")).drop("_salt")


def fan_out(routed: DataFrame, out_dir: str,
            salt_buckets: int | None = None, mode: str = "overwrite") -> None:
    """Write every sink in one pass: parquet partitioned by sink.

    Production target is Iceberg (``writeTo(tbl).append()`` with
    write.distribution-mode=hash); parquet ``partitionBy`` is the local-sandbox
    stand-in with identical layout semantics (one directory per sink).

    ``salt_buckets=None`` (default) streams each task straight into its
    per-sink files — zero shuffle, the fast path when file count
    (tasks × sinks) is acceptable. An int clusters output by (sink, salt)
    first: one full-payload shuffle, but few large files per sink and
    hot-sink skew spread across ``salt_buckets`` tasks — use on clusters
    where downstream readers want big files."""
    df = routed if salt_buckets is None else salted_repartition(routed, "sink", salt_buckets)
    # tokens kept verbatim — per-row token-array equality is the invariant.
    # Dictionary encoding is disabled FOR THE TOKEN COLUMN ONLY (parquet-mr
    # per-column config "parquet.enable.dictionary#tokens.list.element"):
    # random token ids never fit a dictionary, so the encoder always
    # overflows and falls back — pure CPU waste on the widest column.
    # Narrow columns (sink/tenant/operation) keep dictionaries.
    # parquet v2 data pages: delta/packed int encodings encode the token
    # column ~35% faster than v1 at identical size (measured).
    # Compression codec left at the session default: measured A/B at 1M
    # rows (snappy / zstd / lz4 / uncompressed) — all within noise on time
    # and within 0.7% on size (1699-1711 MB); the token payload is
    # incompressible once v2 delta-packs it, so codec choice is a
    # downstream-storage decision, not a throughput lever.
    # 4 MB data pages (default 1 MB): token rows are ~1 KB, so 1 MB pages
    # flush the encoder every ~1k rows; bigger pages amortize page
    # header/stats/CRC overhead on the widest column. Interleaved A/B at
    # 1M rows (BENCH/BASELINE.md "Round 4"): base 10.41 s → 9.44 s (-9%).
    # Disabling page checksums on top was within noise (9.59), so CRCs
    # stay on.
    (
        df.write.mode(mode)
        .option("parquet.writer.version", "v2")
        .option("parquet.enable.dictionary#tokens.list.element", "false")
        .option("parquet.page.size", str(4 * 1024 * 1024))
        .partitionBy("sink")
        .parquet(out_dir)
    )


def diagnose_skew(
    df: DataFrame,
    keys: list[str],
    top: int = 20,
    target_rows_per_task: int = 1_000_000,
    max_items_tracked: int = 100_000,
) -> DataFrame:
    """Heavy-hitter census of a prospective shuffle key — the measurement
    half of the skew toolkit (``salted_repartition`` / AQE skew join are
    the mitigation half). Returns the ``top`` hottest key values with
    ``est_rows`` (DataSketches frequent-items estimate — exact when
    distinct keys <= ``max_items_tracked``), ``row_frac`` of the input,
    and ``salt_buckets`` = the bucket count that spreads that key to
    ``target_rows_per_task`` rows per task (feed the max straight into
    ``salted_repartition``/``fan_out``).

    Scale shape: ONE aggregate job — every partition folds into a bounded
    sketch + a count, the exchange carries sketches, never per-key rows;
    nothing here is proportional to key cardinality. The reference sizes
    its weighted group partitioner from static config
    (SpanNormalizer.java:72-80); this derives the same weights from the
    data."""
    # concat_ws SKIPS nulls (review find): (NULL,'prod') and ('prod',NULL)
    # would merge into one census key even though the shuffle hashes them
    # apart — encode NULL explicitly so every tuple keys uniquely
    sep = "\x1f"  # unit separator: unambiguous composite-key join
    kexpr = F.concat_ws(
        sep,
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
          for c in keys],
    )
    agg = df.select(kexpr.alias("_k")).agg(
        F.expr(
            f"approx_top_k(_k, {int(top)}, {int(max_items_tracked)})"
        ).alias("t"),
        F.count(F.lit(1)).alias("_total"),
    )
    return agg.select(F.explode("t").alias("e"), "_total").select(
        F.col("e.item").alias("key"),
        F.col("e.count").cast("long").alias("est_rows"),
        (F.col("e.count") / F.col("_total")).alias("row_frac"),
        F.greatest(
            F.lit(1),
            F.ceil(F.col("e.count") / F.lit(int(target_rows_per_task))),
        ).cast("int").alias("salt_buckets"),
    )
