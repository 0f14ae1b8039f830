"""Bucketed-table layout — the "re-key once, never shuffle again" path.

The reference keeps spans co-located by trace via pre-keyed Kafka topics
(raw spans are produced keyed on (tenant, trace_id) —
JaegerSpanToAvroRawSpanTransformer.java:58-65 — so the grouper's state
store never re-partitions). The warehouse analog is a BUCKETED table:
write the fact table bucketed (and sorted) by its group key once, and
every later groupBy/join on that key reads the bucket layout instead of
shuffling — at 100 TB that turns the biggest repeated Exchange in the
workload into a one-time write-side cost. (On Iceberg the same contract
is `bucket(N, key)` partition transforms + `write.distribution-mode=hash`;
Spark's Hive-style bucketing is the in-sandbox equivalent with identical
plan behavior.)

`tests/test_bucketing.py` pins the plan property: an aggregate over the
bucket key on the bucketed table has NO Exchange, and the same aggregate
over the plain parquet copy does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Materialize ``df`` as a bucketed (+ sorted-within-bucket) parquet
    table in the session catalog. Sorting by the read-side window order
    (e.g. (user_id, ts_ms)) additionally lets window functions skip their
    Sort at read time. With ``path`` the table is EXTERNAL (files live at
    the given location, e.g. a pipeline checkpoint dir) — re-register it in
    a later session with ``ensure_bucketed_table``."""
    writer = (
        df.write.format("parquet")
        .mode(mode)
        # 4 MB data pages: same writer-side win as the fan-out write
        # (operators/route.py fan_out docstring; A/B in
        # BENCH/BASELINE.md "Round 4") — checkpoints carry the full token
        # payload too.
        .option("parquet.page.size", str(4 * 1024 * 1024))
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
    )
    if path is not None:
        if mode == "overwrite":
            # a stale catalog entry from an earlier overwrite may pin a
            # different location/schema; drop before re-creating external
            df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def ensure_bucketed_table(
    spark: SparkSession,
    table: str,
    path: str,
    schema_ddl: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Idempotently (re-)register an EXTERNAL bucketed table over files
    written by ``write_bucketed(..., path=...)`` and return it.

    The default session catalog is in-memory, so a resumed pipeline in a
    NEW session must re-declare the bucket layout before the planner can
    drop Exchanges on the bucket key — the DDL records layout metadata
    only; the parquet files (with bucket ids in their names) are reused
    as-is."""
    cluster = ", ".join(bucket_cols)
    sort = ", ".join(sort_cols or bucket_cols)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY ({cluster}) SORTED BY ({sort}) INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )
    # IF NOT EXISTS silently accepts a pre-existing entry with a DIFFERENT
    # layout; a wrong declared bucket count is the worst kind of bug — the
    # planner drops Exchanges trusting it and co-partitioned joins silently
    # mis-bucket (round-4 review find). Validate the effective layout.
    have_n, have_cols = _bucket_spec(spark, table)
    if have_n != n_buckets or have_cols != list(bucket_cols):
        raise ValueError(
            f"bucketed table {table} exists with layout "
            f"({have_n} buckets on {have_cols}), requested "
            f"({n_buckets} on {list(bucket_cols)}); drop the table or pass "
            "the layout it was written with (the pipeline manifest records it)"
        )
    return spark.table(table)


def _bucket_spec(spark: SparkSession, table: str) -> tuple[int | None, list[str]]:
    """(num_buckets, bucket_cols) as the catalog sees them."""
    n, cols = None, []
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        key = (r["col_name"] or "").strip()
        if key == "Num Buckets":
            n = int(r["data_type"].strip())
        elif key == "Bucket Columns":
            cols = [c.strip(" `") for c in r["data_type"].strip("[]").split(",")]
    return n, cols


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back; the scan reports the bucket layout as
    its output partitioning, so Catalyst drops Exchanges whose required
    distribution it already satisfies."""
    return spark.table(table)
