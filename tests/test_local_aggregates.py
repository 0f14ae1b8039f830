"""The aggregate step (``aggregate.read_routed`` + ``write_metrics`` /
``write_histogram``) against Spark's aggregates over the same
``partitionBy("sink")`` fan-out read back as a directory: the same rows
and schema whether the step reads the files on the driver (within
``LOCAL_METRICS_MAX_ROWS``) or as a Spark scan (the bound lowered below
the fan-out's rows)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
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


def _spark_vs_step(spark, tmp_path, monkeypatch, routed, salt_buckets, bounds):
    """Spark's aggregates of the fan-out of ``routed`` and, for each of
    ``bounds`` as ``LOCAL_METRICS_MAX_ROWS``, the aggregate step's, each
    output written and read back by Spark: {bound: (the step's input,
    {aggregate: (Spark's, the step's)})}."""
    routed_dir = str(tmp_path / "routed")
    route_ops.fan_out(routed, routed_dir, salt_buckets)
    back = spark.read.schema(routed.schema).parquet(routed_dir)
    want = {}
    for name, spark_agg in (("metrics", agg.sink_metrics(back)),
                            ("histogram", agg.token_histogram(back))):
        spark_agg.write.parquet(str(tmp_path / f"spark_{name}"))
        want[name] = spark.read.parquet(str(tmp_path / f"spark_{name}"))
    files = parquet_files(routed_dir)
    footer_rows = sum(pq.read_metadata(f).num_rows for f in files)
    assert footer_rows == routed.count()
    runs = {}
    for bound in bounds:
        monkeypatch.setattr(agg, "LOCAL_METRICS_MAX_ROWS", bound)
        step = agg.read_routed(spark, routed_dir, files, routed.schema)
        assert isinstance(step, pa.Table) == (footer_rows <= bound), bound
        assert (step.num_rows if isinstance(step, pa.Table) else step.count()) == footer_rows
        got = tmp_path / f"step_{bound}"
        agg.write_metrics(step, str(got / "metrics"))
        agg.write_histogram(step, str(got / "histogram"))
        runs[bound] = step, {name: (want[name], spark.read.parquet(str(got / name)))
                             for name in want}
    return runs


@pytest.mark.parametrize("salt_buckets", [None, 4])
def test_local_aggregates_match_spark(spark, tmp_path, monkeypatch, salt_buckets):
    """At the real bound the step aggregates on the driver, at 0 through
    Spark; both give sorted rows and schema equal to Spark's, including
    every escaped sink name, the default partition, null keys and
    all-null sums. The Spark scan takes each sink from its directory:
    only the default partition's rows read null."""
    runs = _spark_vs_step(spark, tmp_path, monkeypatch, _routed(spark), salt_buckets,
                          (agg.LOCAL_METRICS_MAX_ROWS, 0))
    for bound, (_, pairs) in runs.items():
        for name, (want, got) in pairs.items():
            assert [(f.name, f.dataType) for f in got.schema] == \
                [(f.name, f.dataType) for f in want.schema], (bound, name)
            rows = sorted(map(repr, got.collect()))
            assert rows == sorted(map(repr, want.collect())), (bound, name)
        sinks = {r["sink"] for r in pairs["metrics"][1].select("sink").collect()}
        assert sinks == {"sink-0", "a b", "x/y", "k=v", "50%", None}, bound
        hist = {(r["sink"], r["tok_bucket"]): r for r in pairs["histogram"][1].collect()}
        assert hist[("x/y", "1025-4096")]["sum_tokens"] is None
        assert hist[("x/y", "1025-4096")]["num_rows"] == 10
    scanned = sorted((r["sink"] or "") for r in runs[0][0].select("sink").collect())
    assert scanned == sorted((r[0] or "") for r in _ROWS for _ in range(5))


def test_local_aggregates_of_empty_fan_out(spark, tmp_path, monkeypatch):
    """An empty fan-out writes no data files. The step's outputs are then
    empty with the Spark outputs' schema: schema-only files from the
    driver at the real bound, and from the Spark scan of no files at a
    bound below 0 (no row count exceeds a bound of 0)."""
    runs = _spark_vs_step(spark, tmp_path, monkeypatch, _routed(spark).limit(0), None,
                          (agg.LOCAL_METRICS_MAX_ROWS, -1))
    for bound, (_, pairs) in runs.items():
        for name, (want, got) in pairs.items():
            assert got.schema == want.schema, (bound, name)
            assert got.count() == want.count() == 0, (bound, name)


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
