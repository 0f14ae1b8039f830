"""End-to-end DAG test — HypertraceIngesterTest.java:53-132 analog (F5):
pipe rows through the full parse→enrich→route→aggregate DAG, assert each
stage's output is sound, per-sink counts reconcile, and token arrays survive
end-to-end bit-identical."""

import json
import os

import pytest
from pyspark.sql import functions as F

from hypertrace_ingester_spark import datagen
from hypertrace_ingester_spark.plans.pipeline import PipelineConfig, load_manifest, run_pipeline


@pytest.fixture(scope="module")
def run(spark, sequences, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe"))
    manifest = run_pipeline(
        spark, sequences, PipelineConfig(out_dir=out, checkpoint_parse=True), lineage=True
    )
    return out, manifest


def test_counts_reconcile(spark, sequences, run):
    out, manifest = run
    received = sum(c["received"] for c in manifest["tenant_counters"])
    dropped = sum(c["dropped"] for c in manifest["tenant_counters"])
    missing = sum(c["missing_tenant"] for c in manifest["tenant_counters"])
    assert received == sequences.count()
    # routed = received - dropped - missing-tenant (bypass rows ARE routed)
    dropped_with_tenant = dropped  # drop rule applies only to tenant-having rows in fixture
    assert manifest["total_routed_rows"] == received - dropped_with_tenant - missing


def test_sink_counts_match_files(spark, run):
    out, manifest = run
    routed = spark.read.parquet(os.path.join(out, "routed"))
    on_disk = {r["sink"]: r["count"] for r in routed.groupBy("sink").count().collect()}
    assert on_disk == manifest["stages"]["route"]["sink_counts"]
    # 8 sources → 3 sinks (F3.3)
    assert set(on_disk) == {"sink-0", "sink-1", "sink-2"}


def test_token_array_equality_end_to_end(spark, sequences, run):
    """Per-row token-array equality input → routed sink files (north_rule)."""
    out, _ = run
    routed = spark.read.parquet(os.path.join(out, "routed"))
    joined = sequences.select("doc_id", "tokens").alias("in").join(
        routed.select("doc_id", "tokens").alias("out"), "doc_id"
    )
    assert joined.filter(F.col("in.tokens") != F.col("out.tokens")).count() == 0
    assert routed.select("doc_id").distinct().count() == routed.count()  # no dup/loss


def test_metrics_totals(spark, run):
    out, manifest = run
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert metrics.agg(F.sum("num_rows")).first()[0] == manifest["total_routed_rows"]
    hist = spark.read.parquet(os.path.join(out, "histogram"))
    assert hist.agg(F.sum("num_rows")).first()[0] == manifest["total_routed_rows"]


def test_partition_lineage_recorded(run):
    out, manifest = run
    lineage = manifest["stages"]["route"]["partition_lineage"]
    assert sum(p["rows"] for p in lineage) == manifest["total_routed_rows"]


def test_resume_skips_completed_stages(spark, sequences, run):
    out, first = run
    resumed = run_pipeline(
        spark, sequences, PipelineConfig(out_dir=out, checkpoint_parse=True), resume=True
    )
    assert resumed["total_routed_rows"] == first["total_routed_rows"]
    assert resumed["stages"]["route"]["sink_counts"] == first["stages"]["route"]["sink_counts"]


def test_manifest_is_valid_json(run):
    out, _ = run
    m = load_manifest(out)
    json.dumps(m)  # round-trips
    assert m["stages"]["aggregate"]["complete"]


def test_resume_without_checkpoint(spark, sequences, tmp_path):
    """Resume when parse was complete but NOT checkpointed: parse recomputes
    (deterministic) and the run still succeeds with identical results."""
    out = str(tmp_path / "nockpt")
    first = run_pipeline(spark, sequences, PipelineConfig(out_dir=out))
    resumed = run_pipeline(
        spark, sequences, PipelineConfig(out_dir=out), resume=True
    )
    assert resumed["total_routed_rows"] == first["total_routed_rows"]
    assert resumed["stages"]["route"]["sink_counts"] == first["stages"]["route"]["sink_counts"]


def test_empty_input(spark, sequences, tmp_path):
    out = str(tmp_path / "empty")
    manifest = run_pipeline(spark, sequences.limit(0), PipelineConfig(out_dir=out))
    assert manifest["total_routed_rows"] == 0
    assert manifest["stages"]["route"]["sink_counts"] == {}


def test_prometheus_exposition(spark, run):
    """S6 exporter: metrics.prom in Prometheus text exposition format,
    values matching the manifest's sink counts."""
    out, manifest = run
    path = os.path.join(out, "metrics.prom")
    assert os.path.exists(path)
    text = open(path).read()
    assert "# TYPE ingester_routed_rows_total counter" in text
    for sink, n in manifest["stages"]["route"]["sink_counts"].items():
        assert f'ingester_routed_rows_total{{sink="{sink}"}} {n}' in text
    assert "# TYPE ingester_run_seconds gauge" in text  # durations are gauges


def _comparable(df):
    """Rows ``exceptAll`` can compare: tokens hashed, maps as sorted entries."""
    cols = []
    for f in df.schema:
        c = F.col(f.name)
        if f.dataType.typeName() == "map":
            c = F.to_json(F.array_sort(F.map_entries(c)))
        elif f.name == "tokens":
            c = F.xxhash64(c)
        cols.append(c.alias(f.name))
    return df.select(*cols)


def _ctx(spark):
    from hypertrace_ingester_spark.operators import enrich as E

    return E.EnrichContext(endpoints=datagen.endpoints_dim(spark),
                           services=datagen.services_dim(spark),
                           status_codes=datagen.status_codes_dim(spark))


def test_hot_chain_equals_operator_composition(spark, sequences):
    """The built chain routes exactly the rows the public operators do when
    composed one by one (parse_sequences -> alive filter ->
    enrich_with_bypass -> route), missing-tenant, dropped and bypass rows
    included."""
    from hypertrace_ingester_spark.operators import enrich as E
    from hypertrace_ingester_spark.operators import parse as P
    from hypertrace_ingester_spark.operators import route as R
    from hypertrace_ingester_spark.plans.pipeline import hot_chain

    rules = datagen.route_rules_dim(spark)
    parsed = P.parse_sequences(sequences)
    flags = parsed.agg(
        F.sum((~F.col("has_tenant")).cast("int")).alias("missing"),
        F.sum(F.col("is_dropped").cast("int")).alias("dropped"),
        F.sum((F.col("is_bypass") & F.col("has_tenant") & ~F.col("is_dropped"))
              .cast("int")).alias("bypass"),
    ).first()
    assert flags.missing > 0 and flags.dropped > 0 and flags.bypass > 0
    alive = parsed.filter(F.col("has_tenant") & ~F.col("is_dropped")).select(
        *P.PARSE_OUTPUT_COLS)
    composed = R.route(E.enrich_with_bypass(alive, _ctx(spark)), rules)
    built = hot_chain(_ctx(spark), rules, P.DEFAULT_DROP).apply(sequences)

    assert built.schema == composed.schema
    a, b = _comparable(built), _comparable(composed)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert built.count() == alive.count()
    assert built.filter("is_bypass").count() == flags.bypass


def test_hot_chain_memo_is_one_slot_keyed_by_rules_and_drop(spark):
    """One chain per context: reused for the same rules object and equal
    drop criteria, rebuilt when either changes, and a rebuild reuses the
    context's enrichment (the composite dim is collected once)."""
    from hypertrace_ingester_spark.operators import parse as P
    from hypertrace_ingester_spark.plans.pipeline import hot_chain

    ctx = _ctx(spark)
    rules = datagen.route_rules_dim(spark)
    first = hot_chain(ctx, rules, P.DEFAULT_DROP)
    assert hot_chain(ctx, rules, P.DropCriteria(P.DEFAULT_DROP.criteria)) is first
    other_rules = hot_chain(ctx, datagen.route_rules_dim(spark), P.DEFAULT_DROP)
    assert other_rules is not first
    assert other_rules.enrichment is first.enrichment
    other_drop = hot_chain(ctx, other_rules.route_rules, P.DropCriteria())
    assert other_drop is not other_rules and ctx.chain_memo is other_drop
