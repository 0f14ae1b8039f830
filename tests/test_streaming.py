"""Streaming-face tests — RawSpansGrouperTest analog (SURVEY.md §5.2):
drive the streaming session/metric operators with a bounded micro-batch
stream and assert window semantics after the stream drains.
"""

import time

import pytest
from pyspark.sql import functions as F

from hypertrace_ingester_spark.streaming.jobs import (
    streaming_metrics,
    streaming_sessionize,
)


def _drain(query, timeout_s=60):
    deadline = time.time() + timeout_s
    while query.isActive and time.time() < deadline:
        query.processAllAvailable()
        break
    query.stop()


@pytest.fixture()
def stream_events(spark, tmp_path):
    """Bounded file stream: 2 users, two 30min-gapped sessions each."""
    rows = []
    base = 1_700_000_000_000
    for user in (1, 2):
        for s in range(2):
            for i in range(3):
                rows.append((user * 100 + s * 10 + i, base + s * 7_200_000 + i * 60_000, user, "click"))
    df = spark.createDataFrame(rows, "event_id long, ts_ms long, user_id long, event_type string")
    path = str(tmp_path / "stream_in")
    df.coalesce(1).write.parquet(path)
    schema = df.schema
    return (
        spark.readStream.schema(schema)
        .parquet(path)
        .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    )


def test_streaming_sessionize(spark, stream_events):
    out = streaming_sessionize(stream_events, gap="30 minutes", watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits CLOSED windows; with a bounded stream the final
    # watermark never advances past the last session, so closed = sessions
    # strictly before the max event time seen. 2 users × first session close.
    res = spark.sql("select * from sessions_out").collect()
    by_user = {}
    for r in res:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, sessions in by_user.items():
        for s in sessions:
            assert s["n_events"] == 3, s
    assert len(res) >= 2  # at least the first session per user closed


def test_streaming_metrics(spark, stream_events):
    out = streaming_metrics(stream_events, window="1 hour", watermark="0 seconds",
                            group_cols=("event_type",))
    q = (
        out.writeStream.format("memory")
        .queryName("metrics_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql("select * from metrics_out").collect()
    # first 1h bucket (both users' session-0 events) must have closed: 6 rows
    assert any(r["num_rows"] == 6 for r in res), res


def test_sessionize_with_state_event_time(spark, tmp_path):
    """Custom stateful sessionizer: EVENT-time gap closes the first session
    of each user once later events push the watermark past end+gap; the
    per-session cap marks truncation (RawSpansProcessor cap analog).

    Event-time timeouts fire at the START of a batch against the watermark
    of the PREVIOUS batch, so the stream is delivered as 3 ordered
    micro-batches (session-0 events, session-1 events 2h later, a dummy
    watermark-pusher) via maxFilesPerTrigger=1."""
    import time as _time

    from hypertrace_ingester_spark.streaming.jobs import sessionize_with_state

    base = 1_700_000_000_000
    schema = "event_id long, ts_ms long, user_id long, event_type string"
    path = str(tmp_path / "state_stream_in")
    batches = [
        [(u * 100 + i, base + i * 60_000, u, "click") for u in (1, 2) for i in range(3)],
        [(u * 100 + 10 + i, base + 7_200_000 + i * 60_000, u, "click")
         for u in (1, 2) for i in range(3)],
        [(999, base + 36_000_000, 99, "click")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        _time.sleep(1.1)  # distinct mtimes -> deterministic file order
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = sessionize_with_state(
        stream, max_events=2, gap_ms=30 * 60 * 1000, watermark="0 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("state_sessions")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql("select * from state_sessions").collect()
    # first session per user closes (batch-2 events advanced the watermark
    # 2h; timeouts fire at the start of batch 3); open sessions stay unsent
    by_user = {r["user_id"]: r for r in res}
    assert set(by_user) == {1, 2}
    for r in res:
        assert r["n_events"] == 2  # capped from 3
        assert bool(r["truncated"])
        assert r["session_end_ms"] - r["session_start_ms"] == 120_000


def test_gap_fold_out_of_order_merge():
    """Late-but-within-watermark events merge into the open session without
    shrinking its end; a later event still splits against the RUNNING max
    end, not the raw previous timestamp (review finding, round 2)."""
    import pandas as pd

    from hypertrace_ingester_spark.streaming.jobs import _capped_session_fn

    from helpers import FakeGroupState

    fn = _capped_session_fn(max_events=10, gap_ms=100)
    state = FakeGroupState((3, 0, 50))  # running session [0, 50], 3 events
    batch = pd.DataFrame({"ts_ms": [160, 45]})  # 45 is late, inside session
    out = list(fn((7,), iter([batch]), state))
    closed = pd.concat(out)
    closed = closed[closed["n_events"] > 0]
    # 45 merged (end stays 50); 160 - 50 = 110 > gap -> old session closes
    assert len(closed) == 1
    assert closed.iloc[0]["n_events"] == 4
    assert closed.iloc[0]["session_start_ms"] == 0
    assert closed.iloc[0]["session_end_ms"] == 50
    assert state.get == (1, 160, 160)  # new running session
    assert state.timeout == 260


def test_streaming_pipeline_end_to_end(spark, tmp_path):
    """Full streaming face: micro-batched sequences through the shared
    parse->enrich->route DAG, appended per sink; routed rows must equal
    the batch pipeline's on the same input (the portability invariant)."""
    from hypertrace_ingester_spark import datagen
    from hypertrace_ingester_spark.plans.pipeline import PipelineConfig, run_pipeline
    from hypertrace_ingester_spark.plans.streaming_pipeline import run_streaming_pipeline

    seqs = datagen.generate_sequences(spark, 2000)
    in_dir = str(tmp_path / "stream_seqs")
    seqs.repartition(4).write.parquet(in_dir)  # several files -> micro-batches
    stream = (
        spark.readStream.schema(seqs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(in_dir)
    )
    out = str(tmp_path / "stream_out")
    q = run_streaming_pipeline(spark, stream, PipelineConfig(out_dir=out))
    q.awaitTermination(180)

    batch_out = str(tmp_path / "batch_out")
    m = run_pipeline(spark, spark.read.parquet(in_dir), PipelineConfig(out_dir=batch_out))

    routed = spark.read.parquet(out + "/routed")
    got = {r["sink"]: r["n"] for r in routed.groupBy("sink").agg(
        F.count("*").alias("n")
    ).collect()}
    assert got == m["stages"]["route"]["sink_counts"]
    # incremental per-batch metrics sum to the batch pipeline's totals
    stream_metrics = spark.read.parquet(out + "/metrics")
    sm = {r["sink"]: r["n"] for r in stream_metrics.groupBy("sink").agg(
        F.sum("num_rows").alias("n")
    ).collect()}
    assert sm == m["stages"]["route"]["sink_counts"]


def test_metrics_idempotent_under_batch_retry(spark, tmp_path):
    """foreachBatch retry semantics: re-processing the SAME batch_id must
    not double-count metric partials (each batch overwrites its own
    batch_id partition — round-2 ADVICE fix)."""
    from hypertrace_ingester_spark import datagen
    from hypertrace_ingester_spark.plans.pipeline import PipelineConfig
    from hypertrace_ingester_spark.plans.streaming_pipeline import process_batch
    from hypertrace_ingester_spark.operators import enrich as enrich_ops

    out = str(tmp_path / "retry_out")
    cfg = PipelineConfig(out_dir=out)
    ctx = enrich_ops.EnrichContext(
        endpoints=datagen.endpoints_dim(spark),
        services=datagen.services_dim(spark),
        status_codes=datagen.status_codes_dim(spark),
    )
    rules = datagen.route_rules_dim(spark)
    batch = datagen.generate_sequences(spark, 500)
    process_batch(batch, 7, cfg, ctx, rules)
    once = {
        r["sink"]: r["n"]
        for r in spark.read.parquet(out + "/metrics")
        .groupBy("sink").agg(F.sum("num_rows").alias("n")).collect()
    }
    process_batch(batch, 7, cfg, ctx, rules)  # simulated retry of batch 7
    twice = {
        r["sink"]: r["n"]
        for r in spark.read.parquet(out + "/metrics")
        .groupBy("sink").agg(F.sum("num_rows").alias("n")).collect()
    }
    assert twice == once  # metrics idempotent (routed rows stay ALOS append)


def _snapshot_batch_setup(spark, tmp_path):
    from hypertrace_ingester_spark import datagen
    from hypertrace_ingester_spark.operators import enrich as enrich_ops
    from hypertrace_ingester_spark.plans.pipeline import PipelineConfig

    in_dir = str(tmp_path / "snap_batch_in")
    datagen.generate_sequences(spark, 1200, partitions=2).write.parquet(in_dir)
    seqs = spark.read.parquet(in_dir)
    half = F.pmod(F.xxhash64("doc_id"), F.lit(2))
    batches = [seqs.where(half == k) for k in range(2)]
    ctx = enrich_ops.EnrichContext(
        endpoints=datagen.endpoints_dim(spark),
        services=datagen.services_dim(spark),
        status_codes=datagen.status_codes_dim(spark),
    )
    cfg = PipelineConfig(out_dir=str(tmp_path / "snap_batch_out"), snapshot_routed=True)
    return batches, cfg, ctx, datagen.route_rules_dim(spark)


def _per_sink(df, rows, tokens, errors):
    return {
        r["sink"]: (r["n"], r["tok"], r["err"])
        for r in df.groupBy("sink").agg(
            F.sum(rows).alias("n"), F.sum(tokens).alias("tok"),
            F.sum(errors).alias("err")).collect()
    }


def _batch_metrics(spark, cfg, batch_id):
    return _per_sink(
        spark.read.parquet(f"{cfg.out_dir}/metrics/batch_id={batch_id}"),
        "num_rows", "sum_tokens", "error_rows")


def _snapshot_totals(spark, table, version):
    from hypertrace_ingester_spark.sources import snapshots as sn

    return _per_sink(sn.read_snapshot(spark, table, version=version),
                     F.lit(1), "n_tok", "error_count")


def test_snapshot_batch_metrics_match_committed_rows(spark, tmp_path):
    """snapshot_routed=True computes each batch's metrics from the files
    its commit landed: per sink, the metrics partition of batch k equals
    the routed snapshot's rows, tokens and errors at version k+1 minus
    those at version k."""
    from hypertrace_ingester_spark.plans.streaming_pipeline import process_batch

    batches, cfg, ctx, rules = _snapshot_batch_setup(spark, tmp_path)
    table = f"{cfg.out_dir}/routed_snap"
    prev = {}
    for batch_id, batch in enumerate(batches):
        process_batch(batch, batch_id, cfg, ctx, rules)
        totals = _snapshot_totals(spark, table, batch_id + 1)
        expected = {
            sink: tuple(v - w for v, w in zip(vals, prev.get(sink, (0, 0, 0))))
            for sink, vals in totals.items()
        }
        assert _batch_metrics(spark, cfg, batch_id) == expected
        assert sum(v[0] for v in expected.values()) > 0
        prev = totals


def test_snapshot_batch_metrics_rewritten_on_replay(spark, tmp_path):
    """Crash between the commit and the metrics write: the replayed batch
    id no-ops the commit (version and rows unchanged) and rewrites the
    lost metrics partition with the same values."""
    import shutil

    from hypertrace_ingester_spark.plans.streaming_pipeline import process_batch
    from hypertrace_ingester_spark.sources import snapshots as sn

    batches, cfg, ctx, rules = _snapshot_batch_setup(spark, tmp_path)
    table = f"{cfg.out_dir}/routed_snap"
    process_batch(batches[0], 0, cfg, ctx, rules)
    landed = (sn.current_version(table), sn.read_snapshot(spark, table).count())
    metrics = _batch_metrics(spark, cfg, 0)
    shutil.rmtree(f"{cfg.out_dir}/metrics/batch_id=0")

    process_batch(batches[0], 0, cfg, ctx, rules)
    assert (sn.current_version(table), sn.read_snapshot(spark, table).count()) == landed
    assert _batch_metrics(spark, cfg, 0) == metrics


def test_metrics_partials_are_scoped_to_their_stream(spark, tmp_path):
    """Two streams into one out_dir, the second on a fresh checkpoint
    (its batch ids restart at 0): every stream keeps its own partial in
    each ``batch_id=<id>`` partition, so the metrics add up to the
    snapshot table's rows, and ``metrics/`` stays one readable
    partitioned table."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from hypertrace_ingester_spark import datagen
    from hypertrace_ingester_spark.plans.pipeline import PipelineConfig
    from hypertrace_ingester_spark.plans.streaming_pipeline import run_streaming_pipeline
    from hypertrace_ingester_spark.sources import snapshots as sn

    seqs = datagen.generate_sequences(spark, 600)
    in_dir = str(tmp_path / "scoped_in")
    seqs.repartition(2).write.parquet(in_dir)
    cfg = PipelineConfig(out_dir=str(tmp_path / "scoped_out"), snapshot_routed=True)
    for _ in range(2):
        shutil.rmtree(f"{cfg.out_dir}/_stream_checkpoint", ignore_errors=True)
        stream = (spark.readStream.schema(seqs.schema)
                  .option("maxFilesPerTrigger", 1).parquet(in_dir))
        run_streaming_pipeline(spark, stream, cfg).awaitTermination(180)

    table_rows = sn.read_snapshot(spark, f"{cfg.out_dir}/routed_snap").count()
    files = [os.path.join(d, n) for d, _, names in os.walk(f"{cfg.out_dir}/metrics")
             for n in names if n.endswith(".parquet")]
    assert sum(pq.read_table(f, columns=["num_rows"])["num_rows"].to_numpy().sum()
               for f in files) == table_rows > 0
    metrics = spark.read.parquet(f"{cfg.out_dir}/metrics")
    assert metrics.agg(F.sum("num_rows")).first()[0] == table_rows
    assert {r["batch_id"] for r in metrics.select("batch_id").distinct().collect()} == {0, 1}


def test_batch_rewrite_replaces_only_its_streams_partial(spark, tmp_path):
    """Two streams land batch 0 (partials written on the driver); a retry
    of one stream's batch 0 (a replay: the commit no-ops and Spark
    rewrites the partial) replaces that stream's file only."""
    import os

    from hypertrace_ingester_spark.plans.streaming_pipeline import _stream_prefix, process_batch

    batches, cfg, ctx, rules = _snapshot_batch_setup(spark, tmp_path)
    part = f"{cfg.out_dir}/metrics/batch_id=0"
    process_batch(batches[0], 0, cfg, ctx, rules, app_id="stream-a")
    process_batch(batches[1], 0, cfg, ctx, rules, app_id="stream-b")
    both = _batch_metrics(spark, cfg, 0)
    before = sorted(os.listdir(part))
    process_batch(batches[0], 0, cfg, ctx, rules, app_id="stream-a")
    after = sorted(os.listdir(part))

    def of(names, app_id):
        return [n for n in names if n.startswith(_stream_prefix(app_id))]

    assert _batch_metrics(spark, cfg, 0) == both
    assert of(after, "stream-b") == of(before, "stream-b") != []
    assert of(after, "stream-a") and not set(of(after, "stream-a")) & set(of(before, "stream-a"))
    assert len(after) == len(before) and not [n for n in after if n.startswith(".")]


def test_snapshot_batches_reuse_built_chain(spark, tmp_path, monkeypatch):
    """Micro-batches sharing a context and rules frame build the chain
    once: two snapshot-path batches collect the composite dim once, and
    a batch runs at most 3 Spark jobs, the 2 dim broadcasts and the commit
    write (it was 8 while every batch rebuilt the chain and its dim, and 6
    while the metrics were a Spark aggregate). A landed batch's metrics
    step, counted in its own job group, starts no Spark job."""
    from hypertrace_ingester_spark.operators import aggregate as agg_ops
    from hypertrace_ingester_spark.operators import enrich as enrich_ops
    from hypertrace_ingester_spark.plans.streaming_pipeline import process_batch

    collected = []
    collect_local = enrich_ops.collect_local

    def counting(*args, **kwargs):
        collected.append(args)
        return collect_local(*args, **kwargs)

    monkeypatch.setattr(enrich_ops, "collect_local", counting)
    sc = spark.sparkContext
    read_local = agg_ops.read_local
    metric_groups = []

    def in_own_group(*args, **kwargs):
        # the metrics step runs after the commit; its jobs, if any, land
        # in this group until process_batch returns
        metric_groups.append(f"{sc.getLocalProperty('spark.jobGroup.id')}-metrics")
        sc.setJobGroup(metric_groups[-1], metric_groups[-1])
        return read_local(*args, **kwargs)

    monkeypatch.setattr(agg_ops, "read_local", in_own_group)
    batches, cfg, ctx, rules = _snapshot_batch_setup(spark, tmp_path)
    jobs, metric_jobs = [], []
    try:
        for batch_id, batch in enumerate(batches):
            group = f"reuse-chain-{tmp_path.name}-{batch_id}"
            sc.setJobGroup(group, group)
            process_batch(batch, batch_id, cfg, ctx, rules)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            metric_jobs.append(len(sc.statusTracker().getJobIdsForGroup(metric_groups[-1])))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(collected) == 1
    assert len(metric_groups) == 2 and metric_jobs == [0, 0], metric_jobs
    assert 0 < jobs[1] <= 3, jobs


_EDGE_SCHEMA = ("sink string, tenant_id string, ts_ms bigint, status_state string, "
                "n_tok int, error_count int, tokens array<int>")
# routed rows for the metrics edge cases: null keys, null values, negative
# and null timestamps, and bucket boundaries for both windows under test
_EDGE_ROWS = [
    ("sink-0", "tenant-0", 1_700_000_001_234, "SUCCESS", 10, 0, [1, 2]),
    ("sink-0", "tenant-0", 1_700_000_003_999, "SUCCESS", 5, 1, [3]),
    ("sink-0", "tenant-0", 1_700_000_005_000, "SUCCESS", 1, 0, []),
    ("sink-0", None, 1_700_000_000_000, "FAIL", 3, 1, [4]),
    ("sink-1", "tenant-1", None, "SUCCESS", 7, 0, [5]),
    ("sink-1", "tenant-1", None, "SUCCESS", None, None, None),
    ("sink-2", "tenant-2", -1, None, 2, 0, [6]),
    ("sink-2", "tenant-2", -3_001, None, 4, 1, [7]),
    ("sink-2", "tenant-2", -5_000, None, 8, 1, [8]),
    (None, "tenant-3", 42, "FAIL", 1, 0, [9]),
]


def _driver_vs_spark_metrics(spark, tmp_path, landed, table, window_ms):
    """The driver partial and ``aggregate.sink_metrics`` over the same staged
    files, each written as a partition and read back by Spark. The driver's
    partition is first filled with a Spark-written partition and a stray
    staging file, so the write is a rewrite."""
    import os
    import shutil

    from hypertrace_ingester_spark.operators import aggregate as agg
    files = [os.path.join(table, f) for f in landed.added_files]
    want_dir, got_dir = str(tmp_path / "spark_part"), str(tmp_path / "driver_part")
    agg.sink_metrics(spark.read.parquet(*files), window_ms).repartition(2) \
        .write.mode("overwrite").parquet(want_dir)
    shutil.copytree(want_dir, got_dir)
    open(os.path.join(got_dir, ".tmp-stale"), "wb").close()
    routed = agg.read_local(files, agg.METRIC_INPUTS)
    agg.overwrite_partition(agg.sink_metrics_local(routed, window_ms), got_dir)

    names = os.listdir(got_dir)
    assert len([n for n in names if n.endswith(".parquet")]) == 1, names
    assert not [n for n in names if n.startswith(".")], names
    got, want = spark.read.parquet(got_dir), spark.read.parquet(want_dir)
    assert [(f.name, f.dataType) for f in got.schema] == \
        [(f.name, f.dataType) for f in want.schema]
    rows = sorted(map(repr, got.collect()))
    assert rows == sorted(map(repr, want.collect()))
    return rows


@pytest.mark.parametrize("window_ms", [5_000, 3_000])
def test_driver_metrics_partial_matches_spark(spark, tmp_path, window_ms):
    """The driver partial equals aggregate.sink_metrics over the files a
    commit staged, row for row and in schema: null sink, tenant, status
    and ts_ms keys form their own groups, a negative ts_ms floors into
    the bucket below, all-null sums stay null, under the default and a
    non-default window, with the batch staged as several files."""
    from hypertrace_ingester_spark.sources import snapshots as sn

    table = str(tmp_path / "routed_snap")
    batch = spark.createDataFrame(_EDGE_ROWS * 3, _EDGE_SCHEMA).repartition(3)
    landed = sn.commit_stream_batch(batch, table, 0)
    assert len(landed.added_files) > 1 and landed.added_rows == 3 * len(_EDGE_ROWS)
    rows = _driver_vs_spark_metrics(spark, tmp_path, landed, table, window_ms)
    assert any("bucket_start_ms=None" in r for r in rows)
    assert any("bucket_start_ms=-" in r for r in rows)


def test_driver_metrics_partial_of_empty_batch(spark, tmp_path):
    """A zero-row batch stages one schema-only file; the driver partial of
    it is an empty partition with the Spark aggregate's schema, and
    process_batch writes that partition for an empty landed batch."""
    import os

    from hypertrace_ingester_spark.plans.streaming_pipeline import process_batch
    from hypertrace_ingester_spark.sources import snapshots as sn

    table = str(tmp_path / "routed_snap")
    empty = spark.createDataFrame(_EDGE_ROWS, _EDGE_SCHEMA).limit(0)
    landed = sn.commit_stream_batch(empty, table, 0)
    assert landed.added_files and landed.added_rows == 0
    assert _driver_vs_spark_metrics(spark, tmp_path, landed, table, 5_000) == []

    batches, cfg, ctx, rules = _snapshot_batch_setup(spark, tmp_path)
    process_batch(batches[0].limit(0), 0, cfg, ctx, rules)
    part = f"{cfg.out_dir}/metrics/batch_id=0"
    assert [n for n in os.listdir(part) if n.endswith(".parquet")]
    assert spark.read.parquet(part).count() == 0


def test_streaming_dedup_drops_repeat_fingerprints(spark, tmp_path):
    """Streaming exact dedup (dropDuplicatesWithinWatermark on the
    normalized content fingerprint): one survivor per distinct text,
    whitespace/case variants collapse to the same fingerprint, and the
    survivor set matches the batch-face identity (dedup.exact_dedup)."""
    from hypertrace_ingester_spark.streaming.jobs import streaming_dedup

    base = 1_700_000_000_000
    rows = [
        (1, base + 0, "the cat sat on the mat"),
        (2, base + 1_000, "a completely different document"),
        (3, base + 2_000, "the cat sat on the mat"),        # exact dup of 1
        (4, base + 3_000, "The  Cat Sat  On The Mat"),      # normalized dup of 1
        (5, base + 4_000, "a third unique text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, ts_ms long, text string")
    path = str(tmp_path / "docs_in")
    df.coalesce(1).write.parquet(path)
    stream = (
        spark.readStream.schema(df.schema).parquet(path)
        .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    )
    out = streaming_dedup(stream, watermark="1 minute")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql("select doc_fp, count(*) n from dedup_out group by doc_fp").collect()
    assert len(res) == 3                      # 3 distinct fingerprints survive
    assert all(r["n"] == 1 for r in res)      # exactly one row per fingerprint
