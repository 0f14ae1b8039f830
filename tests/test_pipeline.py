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
    """One ``{"file", "rows"}`` entry per routed file, read from its
    footer."""
    import pyarrow.parquet as pq

    out, manifest = run
    lineage = manifest["stages"]["route"]["partition_lineage"]
    assert sum(p["rows"] for p in lineage) == manifest["total_routed_rows"]
    routed = os.path.join(out, "routed")
    for p in lineage:
        assert set(p) == {"file", "rows"}
        assert pq.read_metadata(os.path.join(routed, p["file"])).num_rows == p["rows"]


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


def test_manifest_records_stage_walls_beside_stages(run):
    """Wall seconds per pipeline stage sit beside ``stages``, never inside
    it: stage entries stay pure counts."""
    _, manifest = run
    walls = manifest["stage_walls"]
    assert set(walls) == {"build", "route", "aggregate", "manifest"}
    assert all(w >= 0 for w in walls.values())
    assert set(manifest["stages"]["route"]) == {"complete", "sink_counts", "partition_lineage"}
    assert manifest["stages"]["aggregate"] == {"complete": True}


def _per_sink(spark, path):
    rows = spark.read.parquet(path).groupBy("sink").agg(F.sum("num_rows").alias("n")).collect()
    return {r["sink"]: r["n"] for r in rows}


def test_sink_counts_equal_metrics_and_histogram(spark, sequences, run, tmp_path):
    """The manifest's per-sink counts (summed on the driver from the
    histogram output) equal the per-sink sums of both aggregate outputs,
    and are empty for an empty input."""
    out, manifest = run
    empty_out = str(tmp_path / "empty")
    empty = run_pipeline(spark, sequences.limit(0), PipelineConfig(out_dir=empty_out))
    for d, m in ((out, manifest), (empty_out, empty)):
        counts = m["stages"]["route"]["sink_counts"]
        assert counts == _per_sink(spark, os.path.join(d, "metrics"))
        assert counts == _per_sink(spark, os.path.join(d, "histogram"))
    assert empty["stages"]["route"]["sink_counts"] == {}


def test_pipeline_leaves_session_serializable(spark, run):
    """Spark ML model UDFs capture the session and serialize it into
    tasks; a pipeline run must leave it serializable (a
    ``pyspark.sql.Observation`` would not, on Spark 4.1)."""
    spark._jvm.org.apache.spark.util.Utils.serialize(spark._jsparkSession)


def test_default_dims_are_per_session(spark):
    """One default context and rules frame per session: the same objects
    on every call, and a new session gets its own, built on it."""
    ctx, rules = datagen.default_dims(spark)
    again = datagen.default_dims(spark)
    assert again[0] is ctx and again[1] is rules
    other = spark.newSession()
    other_ctx, other_rules = datagen.default_dims(other)
    assert other_ctx is not ctx and other_rules is not rules
    assert other_ctx.endpoints.sparkSession is other
    assert other_rules.sparkSession is other


def test_default_dims_pipeline_builds_once_and_runs_five_jobs(spark, tmp_path, monkeypatch):
    """Two default-dims calls in one session collect the composite dim
    once, and the second call runs at most 5 Spark jobs (16 when each call
    rebuilt the dims and ran its actions one after another, 9 while the
    aggregates were Spark jobs). The aggregate step, counted in its own job
    group, starts none. The counters collect runs on a helper thread and
    its jobs still land in the caller's job group."""
    from helpers import own_job_group

    from hypertrace_ingester_spark.operators import aggregate as agg_ops
    from hypertrace_ingester_spark.operators import enrich as enrich_ops

    collected = []
    collect_local = enrich_ops.collect_local

    def counting(*args, **kwargs):
        collected.append(args)
        return collect_local(*args, **kwargs)

    monkeypatch.setattr(enrich_ops, "collect_local", counting)
    sc = spark.sparkContext
    tag = f"counters-{tmp_path.name}"
    operational_counters = agg_ops.operational_counters

    class Tagged:
        """The counters frame, its collect's jobs tagged."""

        def __init__(self, df):
            self.df = df

        def collect(self):
            sc.addJobTag(tag)
            try:
                return self.df.collect()
            finally:
                sc.removeJobTag(tag)

    monkeypatch.setattr(agg_ops, "operational_counters",
                        lambda parsed: Tagged(operational_counters(parsed)))
    # the aggregate step starts with read_routed, on the calling thread;
    # its jobs, if any, land in this group until run_pipeline returns
    aggregate_groups = own_job_group(monkeypatch, sc, agg_ops, "read_routed", "aggregate")
    session = spark.newSession()  # fresh default dims, not built yet
    seq = datagen.generate_sequences(session, 2000, partitions=8)
    tracker = sc.statusTracker()
    jobs, aggregate_jobs, counters_in_group = [], [], []
    try:
        for i in range(2):
            group = f"default-dims-{tmp_path.name}-{i}"
            sc.setJobGroup(group, group)
            run_pipeline(session, seq, PipelineConfig(out_dir=str(tmp_path / str(i))))
            ids = set(tracker.getJobIdsForGroup(group))
            counters = set(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
            jobs.append(len(ids))
            aggregate_jobs.append(len(tracker.getJobIdsForGroup(aggregate_groups[-1])))
            counters_in_group.append(len(counters & ids))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(collected) == 1
    assert aggregate_jobs == [0, 0], aggregate_jobs
    assert all(n > 0 for n in counters_in_group), counters_in_group
    assert jobs[1] <= 5, jobs


def test_failing_counters_collect_raises_and_joins_threads(spark, sequences, tmp_path, monkeypatch):
    """A failure in the concurrently run action, the operational-counters
    collect, raises from run_pipeline, and no helper thread is left
    running."""
    from hypertrace_ingester_spark.operators import aggregate as agg_ops

    operational_counters = agg_ops.operational_counters

    def failing(*args, **kwargs):
        return operational_counters(*args, **kwargs).withColumn(
            "boom", F.raise_error(F.lit("counters collect failed")))

    monkeypatch.setattr(agg_ops, "operational_counters", failing)
    with pytest.raises(Exception, match="counters collect failed"):
        run_pipeline(spark, sequences, PipelineConfig(out_dir=str(tmp_path / "fail")))
    assert not _live_helper_threads()


def test_corrupt_routed_file_fails_local_aggregate_and_joins_threads(
        spark, sequences, tmp_path, monkeypatch):
    """The driver aggregate reads the fan-out's files: a corrupt one
    raises from run_pipeline, and no helper thread is left running."""
    import pyarrow as pa

    from hypertrace_ingester_spark.operators import route as route_ops

    fan_out = route_ops.fan_out

    def corrupting(routed, out_dir, *args, **kwargs):
        fan_out(routed, out_dir, *args, **kwargs)
        victim = next(os.path.join(d, n) for d, _, names in os.walk(out_dir)
                      for n in names if n.endswith(".parquet"))
        with open(victim, "wb") as fh:
            fh.write(b"not a parquet file")

    monkeypatch.setattr(route_ops, "fan_out", corrupting)
    with pytest.raises(pa.ArrowInvalid):
        run_pipeline(spark, sequences, PipelineConfig(out_dir=str(tmp_path / "corrupt")))
    assert not _live_helper_threads()


def _live_helper_threads():
    import threading

    from pyspark import InheritableThread

    return [t for t in threading.enumerate()
            if isinstance(t, InheritableThread) and t.is_alive()]


def test_spark_aggregate_path_above_bound_gives_same_outputs(spark, sequences, run, tmp_path,
                                                             monkeypatch):
    """Over ``LOCAL_METRICS_MAX_ROWS`` the aggregates are read back and
    grouped by Spark: the aggregate step, counted in its own job group,
    runs Spark jobs. The outputs, row for row and in schema, and the
    manifest's sink counts are those of the driver path, and the staged
    metrics write leaves no dot-name or Spark bookkeeping entry."""
    from helpers import own_job_group

    from hypertrace_ingester_spark.operators import aggregate as agg_ops

    out, manifest = run
    spark_out = str(tmp_path / "spark_path")
    monkeypatch.setattr(agg_ops, "LOCAL_METRICS_MAX_ROWS", 0)
    sc = spark.sparkContext
    groups = own_job_group(monkeypatch, sc, agg_ops, "read_routed", "aggregate")
    sc.setJobGroup(f"above-bound-{tmp_path.name}", "above-bound")
    try:
        above = run_pipeline(spark, sequences, PipelineConfig(out_dir=spark_out))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the metrics write and the histogram collect, each at least one job
    assert len(sc.statusTracker().getJobIdsForGroup(groups[-1])) >= 2
    assert above["stages"]["route"]["sink_counts"] == manifest["stages"]["route"]["sink_counts"]
    for d in ("metrics", "histogram"):
        got = spark.read.parquet(os.path.join(out, d))
        want = spark.read.parquet(os.path.join(spark_out, d))
        assert got.schema == want.schema
        assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
        assert not [n for n in os.listdir(os.path.join(spark_out, d))
                    if n.startswith((".", "_"))]


def test_concurrent_actions_inherit_group_join_all_and_raise_first(spark):
    """The helper behind run_pipeline's concurrent actions: a submitted
    action sees the caller's job group; leaving the block waits for every
    action, even when the block raises; the block's own error wins,
    otherwise the first failed action's error is re-raised."""
    import threading

    from hypertrace_ingester_spark.plans.pipeline import _concurrent_actions

    sc = spark.sparkContext
    sc.setJobGroup("concurrent-actions", "concurrent-actions")
    try:
        with _concurrent_actions() as submit:
            group = submit(lambda: sc.getLocalProperty("spark.jobGroup.id"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert group.result() == "concurrent-actions"

    release, finished = threading.Event(), []

    def slow():
        release.wait(30)
        finished.append(release.is_set())

    with pytest.raises(RuntimeError, match="block"):
        with _concurrent_actions() as submit:
            submit(slow)
            threading.Timer(0.2, release.set).start()
            raise RuntimeError("block")
    assert finished == [True]

    def failing(msg):
        def fn():
            raise ValueError(msg)
        return fn

    with pytest.raises(ValueError, match="first"):
        with _concurrent_actions() as submit:
            submit(failing("first"))
            submit(failing("second"))
