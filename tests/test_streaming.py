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


def test_snapshot_batches_reuse_built_chain(spark, tmp_path, monkeypatch):
    """Micro-batches sharing a context and rules frame build the chain
    once: two snapshot-path batches collect the composite dim once, and
    a batch runs at most 6 Spark jobs (it was 8 while every batch rebuilt
    the chain and its dim)."""
    from hypertrace_ingester_spark.operators import enrich as enrich_ops
    from hypertrace_ingester_spark.plans.streaming_pipeline import process_batch

    collected = []
    collect_local = enrich_ops.collect_local

    def counting(*args, **kwargs):
        collected.append(args)
        return collect_local(*args, **kwargs)

    monkeypatch.setattr(enrich_ops, "collect_local", counting)
    batches, cfg, ctx, rules = _snapshot_batch_setup(spark, tmp_path)
    sc = spark.sparkContext
    jobs = []
    try:
        for batch_id, batch in enumerate(batches):
            group = f"reuse-chain-{tmp_path.name}-{batch_id}"
            sc.setJobGroup(group, group)
            process_batch(batch, batch_id, cfg, ctx, rules)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(collected) == 1
    assert 0 < jobs[1] <= 6, jobs


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
