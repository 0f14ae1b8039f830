"""The driver aggregates (``aggregate.read_local`` + ``sink_metrics_local``
/ ``token_histogram_local`` + ``overwrite_partition``) against the Spark
aggregates ``run_pipeline`` runs above ``LOCAL_METRICS_MAX_ROWS``: over
the same ``partitionBy("sink")`` fan-out, the same rows and schema."""

import os

import pytest

from hypertrace_ingester_spark.operators import aggregate as agg
from hypertrace_ingester_spark.operators import route as route_ops
from hypertrace_ingester_spark.sources.compaction import parquet_files

_SCHEMA = ("doc_id bigint, sink string, tenant_id string, ts_ms bigint, "
           "status_state string, n_tok int, error_count int, tok_bucket string, "
           "tokens array<int>")
# sinks Spark escapes in partition paths ("x/y" -> x%2Fy, "k=v" -> k%3Dv,
# "50%" -> 50%25), a space it keeps, and the null and empty sinks it writes
# as the default partition; null status_state, negative and null ts_ms,
# and a group whose n_tok are all null
_ROWS = [
    ("sink-0", "t-0", 1_700_000_001_234, "SUCCESS", 10, 0, "1-16"),
    ("sink-0", "t-0", 1_700_000_003_999, "FAIL", 40, 1, "17-64"),
    ("a b", "t-1", -1, None, 5, 0, "1-16"),
    ("a b", "t-1", -5_001, None, 300, 1, "257-1024"),
    ("x/y", None, None, "SUCCESS", None, None, "1025-4096"),
    ("x/y", None, None, "SUCCESS", None, 0, "1025-4096"),
    ("k=v", "t-2", 42, "FAIL", 70, 1, "65-256"),
    ("50%", "t-3", 0, "SUCCESS", 2, 0, "1-16"),
    (None, "t-4", 7, "SUCCESS", 3, 0, "1-16"),
    ("", "t-5", 9, None, 4, 0, "1-16"),
]


def _routed(spark, copies=5):
    rows = [(i * len(_ROWS) + k, *r, [k])
            for i in range(copies) for k, r in enumerate(_ROWS)]
    return spark.createDataFrame(rows, _SCHEMA).repartition(3)


def _spark_vs_local(spark, tmp_path, routed, salt_buckets):
    """Both aggregates of the fan-out of ``routed``, each output written
    and read back by Spark: (Spark's, the driver's) per aggregate."""
    routed_dir = str(tmp_path / "routed")
    route_ops.fan_out(routed, routed_dir, salt_buckets)
    back = spark.read.schema(routed.schema).parquet(routed_dir)
    files = parquet_files(routed_dir)
    local = agg.read_local(files)
    assert local.num_rows == agg.footer_rows(files) == routed.count()
    pairs = {}
    for name, spark_agg, local_agg in (
            ("metrics", agg.sink_metrics(back), agg.sink_metrics_local(local)),
            ("histogram", agg.token_histogram(back), agg.token_histogram_local(local))):
        want_dir, got_dir = str(tmp_path / f"spark_{name}"), str(tmp_path / f"local_{name}")
        spark_agg.write.parquet(want_dir)
        agg.overwrite_partition(local_agg, got_dir)
        pairs[name] = spark.read.parquet(want_dir), spark.read.parquet(got_dir)
    return pairs


@pytest.mark.parametrize("salt_buckets", [None, 4])
def test_local_aggregates_match_spark(spark, tmp_path, salt_buckets):
    """Sorted rows and schema equal to Spark's, including every escaped
    sink name, the default partition, null keys and all-null sums."""
    pairs = _spark_vs_local(spark, tmp_path, _routed(spark), salt_buckets)
    for name, (want, got) in pairs.items():
        assert [(f.name, f.dataType) for f in got.schema] == \
            [(f.name, f.dataType) for f in want.schema], name
        rows = sorted(map(repr, got.collect()))
        assert rows == sorted(map(repr, want.collect())), name
    sinks = {r["sink"] for r in pairs["metrics"][1].select("sink").collect()}
    assert sinks == {"sink-0", "a b", "x/y", "k=v", "50%", None}
    hist = {(r["sink"], r["tok_bucket"]): r for r in pairs["histogram"][1].collect()}
    assert hist[("x/y", "1025-4096")]["sum_tokens"] is None
    assert hist[("x/y", "1025-4096")]["num_rows"] == 10


def test_local_aggregates_of_empty_fan_out(spark, tmp_path):
    """An empty fan-out writes no data files; the driver outputs are then
    schema-only files with the Spark outputs' schema."""
    pairs = _spark_vs_local(spark, tmp_path, _routed(spark).limit(0), None)
    for name, (want, got) in pairs.items():
        assert got.schema == want.schema, name
        assert got.count() == want.count() == 0, name


def test_overwrite_partition_scopes_by_prefix(tmp_path):
    """A prefixed rewrite replaces only that prefix's file and its staging
    leftovers; the default empty prefix replaces the whole directory."""
    part = str(tmp_path / "part")
    table = agg.HIST_SCHEMA.empty_table()
    agg.overwrite_partition(table, part, "stream-a-")
    agg.overwrite_partition(table, part, "stream-b-")
    open(os.path.join(part, ".stream-a-stale"), "wb").close()
    agg.overwrite_partition(table, part, "stream-a-")
    names = sorted(os.listdir(part))
    assert [n.split("part-")[0] for n in names] == ["stream-a-", "stream-b-"], names
    agg.overwrite_partition(table, part)
    assert [n.startswith("part-") for n in os.listdir(part)] == [True]
