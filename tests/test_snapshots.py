"""Snapshot-versioned parquet tables (sources/snapshots.py) — the
Iceberg-commit-semantics stand-in: atomic manifest commits, optimistic
concurrency, time travel, append-only rollback, and snapshot expiry with
data-file garbage collection."""

import json
import os
import time

import pytest

from hypertrace_ingester_spark.sources import snapshots as sn


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 10 as v")


def test_append_overwrite_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = sn.commit(_df(spark, 0, 5), t)
    assert (s1.version, s1.rows, s1.operation) == (1, 5, "append")
    s2 = sn.commit(_df(spark, 5, 8), t)               # append
    assert (s2.version, s2.rows) == (2, 8)
    s3 = sn.commit(_df(spark, 100, 102), t, mode="overwrite")
    assert (s3.version, s3.rows) == (3, 2)

    # current read = overwritten content
    assert sorted(r["id"] for r in sn.read_snapshot(spark, t).collect()) \
        == [100, 101]
    # time travel by version
    assert sorted(r["id"] for r in
                  sn.read_snapshot(spark, t, version=2).collect()) \
        == list(range(8))
    assert sorted(r["id"] for r in
                  sn.read_snapshot(spark, t, version=1).collect()) \
        == list(range(5))
    # time travel by timestamp
    got = sn.read_snapshot(spark, t, as_of_ts=s2.ts + 1e-4)
    assert got.count() == 8
    # history is complete and ordered
    assert [s.version for s in sn.snapshots(t)] == [1, 2, 3]
    assert [s.parent for s in sn.snapshots(t)] == [None, 1, 2]


def test_rollback_is_append_only(spark, tmp_path):
    t = str(tmp_path / "tbl")
    sn.commit(_df(spark, 0, 4), t)
    sn.commit(_df(spark, 50, 51), t, mode="overwrite")
    rb = sn.rollback(t, 1)
    assert rb.version == 3 and rb.operation == "rollback-to-v1"
    assert sorted(r["id"] for r in sn.read_snapshot(spark, t).collect()) \
        == [0, 1, 2, 3]
    # the overwritten middle version is still readable (history kept)
    assert sn.read_snapshot(spark, t, version=2).count() == 1


def test_commit_conflict_and_cas(spark, tmp_path):
    t = str(tmp_path / "tbl")
    sn.commit(_df(spark, 0, 3), t)
    # a racing writer lands v2 between our read and our commit: the
    # manifest IS the commit (single source of truth), so a blind commit
    # simply builds on it — no wedge — while a CAS pinned to the stale
    # version conflicts
    shutil_src = os.path.join(t, "_snapshots", "v000001.json")
    v1 = json.load(open(shutil_src))
    v1["version"], v1["parent"] = 2, 1
    with open(os.path.join(t, "_snapshots", "v000002.json"), "w") as fh:
        json.dump(v1, fh)
    with pytest.raises(sn.CommitConflict, match="table moved"):
        sn.commit(_df(spark, 6, 9), t, expected_version=1)
    s = sn.commit(_df(spark, 3, 6), t)        # blind append builds on v2
    assert s.version == 3
    # the raw link race: two writers computing the SAME next version —
    # the second exclusive-create loses
    with pytest.raises(sn.CommitConflict, match="concurrently"):
        sn._commit_manifest(t, 3, dict(v1, version=3))
    # correct CAS expectation passes
    s2 = sn.commit(_df(spark, 6, 9), t, expected_version=3)
    assert s2.version == 4


def test_commit_point_is_atomic(spark, tmp_path):
    """CURRENT only ever names a fully-written manifest: after any number
    of commits, the pointer's target manifest exists and parses, and no
    stage directories survive."""
    t = str(tmp_path / "tbl")
    for i in range(4):
        sn.commit(_df(spark, i * 2, i * 2 + 2), t)
        v = sn.current_version(t)
        m = os.path.join(t, "_snapshots", f"v{v:06d}.json")
        assert os.path.exists(m) and json.load(open(m))["version"] == v
    assert not [d for d in os.listdir(t) if d.startswith("_stage-")]
    # every referenced file exists
    for s in sn.snapshots(t):
        for f in s.files:
            assert os.path.exists(os.path.join(t, f)), f


def test_expire_snapshots_gc(spark, tmp_path):
    t = str(tmp_path / "tbl")
    sn.commit(_df(spark, 0, 3), t)
    sn.commit(_df(spark, 100, 103), t, mode="overwrite")  # orphans v1 files
    sn.commit(_df(spark, 103, 104), t)
    before = sum(1 for f in os.listdir(os.path.join(t, "data")))
    out = sn.expire_snapshots(t, keep_last=2)
    assert out["expired_versions"] == [1]
    assert out["deleted_files"] >= 1                  # v1's files GC'd
    after = sum(1 for f in os.listdir(os.path.join(t, "data")))
    assert after == before - out["deleted_files"]
    # current + kept history still read fine; expired version raises
    assert sn.read_snapshot(spark, t).count() == 4
    assert sn.read_snapshot(spark, t, version=2).count() == 3
    with pytest.raises(ValueError, match="expired or never"):
        sn.read_snapshot(spark, t, version=1)
    # CURRENT is never expired even if keep_last would drop it
    sn.rollback(t, 2)
    out2 = sn.expire_snapshots(t, keep_last=1)
    assert sn.current_version(t) not in out2["expired_versions"]
    assert sn.read_snapshot(spark, t).count() == 3


def test_commit_stream_batch_is_idempotent(spark, tmp_path):
    """The exactly-once gate: a retry replay (same batch_id) no-ops; a
    later batch id lands; an OLDER id within the same stream (impossible
    in practice, but the monotone contract) raises BatchRegression."""
    t = str(tmp_path / "tbl")
    s = sn.commit_stream_batch(_df(spark, 0, 4), t, batch_id=0)
    assert s is not None and s.batch_id == 0
    assert sn.commit_stream_batch(_df(spark, 0, 4), t, batch_id=0) is None
    assert sn.read_snapshot(spark, t).count() == 4       # no double-append
    s2 = sn.commit_stream_batch(_df(spark, 4, 6), t, batch_id=1)
    assert s2.batch_id == 1
    with pytest.raises(sn.BatchRegression):
        sn.commit_stream_batch(_df(spark, 9, 10), t, batch_id=0)
    assert sn.read_snapshot(spark, t).count() == 6


def test_regressed_batch_id_within_a_stream_raises(spark, tmp_path):
    """The gate is kept per stream: an id below the stream's last one
    raises a named error and lands nothing; another stream's ids are
    independent of it; an equal id is still a replay no-op."""
    t = str(tmp_path / "tbl")
    assert sn.commit_stream_batch(_df(spark, 0, 3), t, 5, app_id="a")
    with pytest.raises(sn.BatchRegression, match="batch 4 .* after committing batch 5"):
        sn.commit_stream_batch(_df(spark, 3, 6), t, 4, app_id="a")
    assert sn.commit_stream_batch(_df(spark, 3, 6), t, 0, app_id="b")
    assert sn.commit_stream_batch(_df(spark, 3, 6), t, 0, app_id="b") is None
    assert sn.commit_stream_batch(_df(spark, 6, 9), t, 5, app_id="a") is None
    assert sn.read_snapshot(spark, t).count() == 6
    assert sn.snapshots(t)[-1].streams == {"a": 5, "b": 0}


def test_legacy_batch_seq_gates_the_default_stream(spark, tmp_path):
    """A manifest written before per-stream gates (a table-wide
    ``batch_seq``, no stream map) still loads, and its ``batch_seq`` is
    the default stream's last batch id."""
    t = str(tmp_path / "tbl")
    sn.commit_stream_batch(_df(spark, 0, 3), t, 0)
    sn.commit_stream_batch(_df(spark, 3, 5), t, 1)
    mpath = os.path.join(t, "_snapshots", f"v{sn.current_version(t):06d}.json")
    with open(mpath) as fh:
        manifest = json.load(fh)
    del manifest["streams"]
    manifest["batch_seq"] = 1
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)
    assert sn.snapshots(t)[-1].streams == {"": 1}
    assert sn.commit_stream_batch(_df(spark, 3, 5), t, 1) is None
    with pytest.raises(sn.BatchRegression):
        sn.commit_stream_batch(_df(spark, 0, 3), t, 0)
    assert sn.commit_stream_batch(_df(spark, 5, 6), t, 2)
    assert sn.commit_stream_batch(_df(spark, 6, 7), t, 0, app_id="fresh")
    assert sn.read_snapshot(spark, t).count() == 7


def test_streaming_pipeline_snapshot_sink_exactly_once(spark, tmp_path):
    """End to end: snapshot_routed=True lands every micro-batch exactly
    once (row totals match the batch pipeline), and a manual replay of an
    already-committed batch through process_batch changes nothing."""
    from pyspark.sql import functions as F

    from hypertrace_ingester_spark import datagen
    from hypertrace_ingester_spark.operators import enrich as enrich_ops
    from hypertrace_ingester_spark.plans.pipeline import (
        PipelineConfig, run_pipeline)
    from hypertrace_ingester_spark.plans.streaming_pipeline import (
        process_batch, run_streaming_pipeline)

    seqs = datagen.generate_sequences(spark, 1500)
    in_dir = str(tmp_path / "snap_seqs")
    seqs.repartition(3).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(seqs.schema)
        .option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    out = str(tmp_path / "snap_out")
    cfg = PipelineConfig(out_dir=out, snapshot_routed=True)
    run_streaming_pipeline(spark, stream, cfg).awaitTermination(180)

    table = out + "/routed_snap"
    hist = sn.snapshots(table)
    assert len(hist) >= 2                      # several micro-batches
    assert [s.batch_id for s in hist] == sorted(
        s.batch_id for s in hist)              # monotone ids recorded

    batch_out = str(tmp_path / "snap_batch_out")
    m = run_pipeline(spark, spark.read.parquet(in_dir),
                     PipelineConfig(out_dir=batch_out))
    got = {r["sink"]: r["n"] for r in
           sn.read_snapshot(spark, table).groupBy("sink")
           .agg(F.count("*").alias("n")).collect()}
    assert got == m["stages"]["route"]["sink_counts"]

    # replay the stream's last committed batch id: exactly-once means a
    # no-op (an older id of the stream raises BatchRegression instead)
    ctx = enrich_ops.EnrichContext(
        endpoints=datagen.endpoints_dim(spark),
        services=datagen.services_dim(spark),
        status_codes=datagen.status_codes_dim(spark),
    )
    before = sn.read_snapshot(spark, table).count()
    (app_id,) = hist[-1].streams
    process_batch(spark.read.parquet(in_dir), hist[-1].batch_id, cfg, ctx,
                  datagen.route_rules_dim(spark), app_id=app_id)
    assert sn.read_snapshot(spark, table).count() == before
    assert len(sn.snapshots(table)) == len(hist)


def test_fresh_checkpoint_against_existing_table_loses_no_rows(spark, tmp_path):
    """A new checkpoint directory writing to an existing snapshot table is
    a new stream: its batch ids restart at 0, and every batch still lands
    (a table-wide gate no-opped them all and dropped their rows
    silently). The table then holds one stream per checkpoint."""
    import shutil

    from hypertrace_ingester_spark import datagen
    from hypertrace_ingester_spark.plans.pipeline import PipelineConfig
    from hypertrace_ingester_spark.plans.streaming_pipeline import run_streaming_pipeline

    seqs = datagen.generate_sequences(spark, 600)
    in_dir = str(tmp_path / "seqs")
    seqs.repartition(2).write.parquet(in_dir)
    out = str(tmp_path / "out")
    cfg = PipelineConfig(out_dir=out, snapshot_routed=True)
    table = out + "/routed_snap"
    counts = []
    for _ in range(2):
        shutil.rmtree(os.path.join(out, "_stream_checkpoint"), ignore_errors=True)
        stream = (spark.readStream.schema(seqs.schema)
                  .option("maxFilesPerTrigger", 1).parquet(in_dir))
        run_streaming_pipeline(spark, stream, cfg).awaitTermination(180)
        counts.append(sn.read_snapshot(spark, table).count())
    assert counts[0] > 0 and counts[1] == 2 * counts[0]
    assert len(sn.snapshots(table)[-1].streams) == 2


def test_schema_enforcement_and_empty_reads(spark, tmp_path):
    """Appends are schema-checked (Iceberg write contract): a mismatched
    frame raises instead of silently unioning; overwrite SETS the new
    schema; every version reads with ITS OWN schema (per-version
    evolution); an empty commit still reads typed."""
    t = str(tmp_path / "tbl")
    sn.commit(_df(spark, 0, 3), t)
    bad = spark.range(3, 5).selectExpr("id", "cast(id as string) as v")
    with pytest.raises(ValueError, match="schema mismatch"):
        sn.commit(bad, t)                       # append, wrong type for v
    sn.commit(bad, t, mode="overwrite")         # evolution via overwrite
    assert sn.read_snapshot(spark, t).schema["v"].dataType.simpleString() \
        == "string"
    # time travel returns the OLD schema
    assert sn.read_snapshot(spark, t, version=1) \
        .schema["v"].dataType.simpleString() == "bigint"
    # empty table: typed-empty frame from the pinned schema
    t2 = str(tmp_path / "empty")
    sn.commit(_df(spark, 0, 0), t2)
    out = sn.read_snapshot(spark, t2)
    assert out.count() == 0
    assert [f.name for f in out.schema] == ["id", "v"]


def test_merge_upsert_copy_on_write(spark, tmp_path):
    """MERGE INTO: matched keys replaced, new keys inserted, files whose
    footer range excludes every update key are carried by reference —
    byte-identical — and time travel still reads the pre-merge rows."""
    import hashlib

    t = str(tmp_path / "tbl")
    # two well-separated files so footer pruning has something to prune
    sn.commit(spark.range(0, 50).selectExpr("id", "id * 10 as v")
              .coalesce(1), t)
    sn.commit(spark.range(1000, 1050).selectExpr("id", "id * 10 as v")
              .coalesce(1), t)
    pre = sn.snapshots(t)[-1]
    hashes_before = {
        f: hashlib.md5(open(os.path.join(t, f), "rb").read()).hexdigest()
        for f in pre.files
    }

    updates = spark.createDataFrame(
        [(1000, -1), (1001, -2), (7777, -3)], "id long, v long")
    s = sn.merge_upsert(spark, updates, t, "id")
    assert s.operation == "merge" and s.rows == 101   # 100 - 2 + 3
    got = {r["id"]: r["v"] for r in sn.read_snapshot(spark, t).collect()}
    assert got[1000] == -1 and got[1001] == -2 and got[7777] == -3
    assert got[1002] == 10020 and got[0] == 0         # untouched rows kept
    assert len(got) == 101

    # the low-range file was carried by reference, byte-identical
    carried = [f for f in s.files if f in hashes_before]
    assert len(carried) == 1
    f = carried[0]
    assert hashlib.md5(
        open(os.path.join(t, f), "rb").read()).hexdigest() == \
        hashes_before[f]

    # time travel: pre-merge snapshot still shows the old values
    old = {r["id"]: r["v"] for r in
           sn.read_snapshot(spark, t, version=pre.version).collect()}
    assert old[1000] == 10000 and 7777 not in old

    # NULL-keyed update rows insert; NULL-keyed table rows survive a merge
    null_tbl = str(tmp_path / "nulls")
    sn.commit(spark.createDataFrame([(None, 1), (5, 2)], "id long, v long"),
              null_tbl)
    sn.merge_upsert(spark, spark.createDataFrame(
        [(5, 20), (None, 30)], "id long, v long"), null_tbl, "id")
    from collections import Counter

    rows = Counter((r["id"], r["v"]) for r in
                   sn.read_snapshot(spark, null_tbl).collect())
    assert rows == Counter([(None, 1), (None, 30), (5, 20)])

    # bounded-keys guard
    big = spark.range(0, 50).selectExpr("id", "id as v")
    with pytest.raises(ValueError, match="bounded update-key set"):
        sn.merge_upsert(spark, big, t, "id", max_keys=10)


def test_orphan_data_files_swept_after_grace(spark, tmp_path):
    """A crashed/conflict-losing commit leaves staged data files that no
    manifest references; the expiry orphan sweep removes them past the
    grace age and never touches referenced files or young orphans."""
    t = str(tmp_path / "tbl")
    sn.commit(_df(spark, 0, 4), t)
    orphan = os.path.join(t, "data", "c999999-dead0000-00000.parquet")
    _df(spark, 90, 92).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "o"))
    src = [f for f in os.listdir(str(tmp_path / "o"))
           if f.endswith(".parquet")][0]
    os.rename(os.path.join(str(tmp_path / "o"), src), orphan)
    # young orphan survives a guarded sweep
    out = sn.expire_snapshots(t, keep_last=5, orphan_grace_sec=3600)
    assert out["orphans_deleted"] == 0 and os.path.exists(orphan)
    # past the grace it is swept; the table still reads identically
    out = sn.expire_snapshots(t, keep_last=5, orphan_grace_sec=0)
    assert out["orphans_deleted"] == 1 and not os.path.exists(orphan)
    assert sn.read_snapshot(spark, t).count() == 4


def test_batch_seq_survives_expiry_and_maintenance(spark, tmp_path):
    """The exactly-once gate must hold after maintenance commits and
    snapshot expiry drop every batch_id-bearing manifest (review find:
    a history-scan gate was voided here). The per-stream map rides every
    manifest, and every write path — commit, merge, compaction, rollback
    — writes a manifest with the same keys."""
    t = str(tmp_path / "tbl")
    written = []

    def manifest():
        mpath = os.path.join(t, "_snapshots", f"v{sn.current_version(t):06d}.json")
        with open(mpath) as fh:
            written.append(json.load(fh))

    assert sn.commit_stream_batch(_df(spark, 0, 3), t, batch_id=0) is not None
    manifest()
    assert sn.commit_stream_batch(_df(spark, 3, 5), t, batch_id=1) is not None
    manifest()
    sn.commit(_df(spark, 10, 12), t)
    manifest()
    # maintenance: a merge, a compaction and a rollback, all batch_id=None
    sn.merge_upsert(spark, _df(spark, 4, 6), t, "id")
    manifest()
    assert sn.compact(spark, t, target_file_mb=1) is not None
    manifest()
    sn.rollback(t, sn.current_version(t) - 1)
    manifest()
    assert [m["operation"] for m in written] == [
        "append", "append", "append", "merge", "compact", "rollback-to-v4"]
    assert len({frozenset(m) for m in written}) == 1, [sorted(m) for m in written]
    assert [m["streams"] for m in written] == [{"": 0}] + [{"": 1}] * 5
    # expire everything but the tail: all batch-bearing manifests gone
    sn.expire_snapshots(t, keep_last=2, orphan_grace_sec=3600)
    assert all(s.batch_id is None for s in sn.snapshots(t))
    # the replay gate still holds
    n_before = sn.read_snapshot(spark, t).count()
    assert sn.commit_stream_batch(_df(spark, 3, 5), t, batch_id=1) is None
    assert sn.read_snapshot(spark, t).count() == n_before
    # and a genuinely new batch lands
    assert sn.commit_stream_batch(_df(spark, 50, 51), t, batch_id=2) is not None


def test_merge_upsert_key_not_shadowed_by_struct_leaf(spark, tmp_path):
    """For a schema {id, s: struct<id>} the file pruner reads the footer
    stats of the TOP-LEVEL key: the struct leaf, also named 'id', holds
    values far outside the key range, and pruning on it would skip the
    file holding the matched key and leave it duplicated."""
    t = str(tmp_path / "tbl")
    sn.commit(spark.range(0, 50).selectExpr(
        "id", "id * 10 as v", "named_struct('id', id + 100000) as s").coalesce(1), t)
    updates = spark.createDataFrame(
        [(10, -1, (7,))], "id long, v long, s struct<id: long>")
    s = sn.merge_upsert(spark, updates, t, "id")
    assert s.rows == 50
    got = sn.read_snapshot(spark, t).collect()
    assert len(got) == len({r["id"] for r in got}) == 50
    assert {r["id"]: r["v"] for r in got}[10] == -1


def _added_rows(snap):
    """Rows in the data files the commit that returned ``snap`` staged."""
    return sum(snap.file_rows[f] for f in snap.added_files)


def test_merge_upsert_prunes_from_manifest(spark, tmp_path, monkeypatch):
    """On a table whose manifest stats cover the key, merge_upsert prunes
    and counts carried files from the manifest's ``file_stats`` and
    ``file_rows``: it opens no footer of an existing file. The same merge
    on a copy whose manifest lacks ``file_rows`` (as older commits wrote
    it) opens every footer and gives the same result. Compaction and
    rollback carry ``file_rows``."""
    import pyarrow.parquet as pq

    tables = {}
    for name in ("manifest", "footer"):
        t = str(tmp_path / name)
        sn.commit(_df(spark, 0, 20).repartition(1), t, stats_cols=("id",))
        for b in range(1, 6):                        # appends inherit stats
            sn.commit(_df(spark, b * 100, b * 100 + 20).repartition(1), t)
        tables[name] = t
    snap = sn.snapshots(tables["manifest"])[-1]
    assert len(snap.files) == 6 and set(snap.file_rows) == set(snap.files)
    assert sum(snap.file_rows.values()) == snap.rows == 120
    footer = tables["footer"]
    mpath = os.path.join(footer, "_snapshots",
                         f"v{sn.current_version(footer):06d}.json")
    with open(mpath) as fh:
        manifest = json.load(fh)
    del manifest["file_rows"]
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)

    opened = []
    parquet_file = pq.ParquetFile

    def counting(source, *args, **kwargs):
        opened.append(os.path.abspath(source))
        return parquet_file(source, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    updates = spark.createDataFrame(
        [(105, -1), (301, -2), (9999, -3)], "id long, v long")
    res = {}
    for name, t in tables.items():
        existing = {os.path.abspath(os.path.join(t, f))
                    for f in sn.snapshots(t)[-1].files}
        opened.clear()
        s = sn.merge_upsert(spark, updates, t, "id")
        res[name] = (s, sorted(tuple(r) for r in sn.read_snapshot(spark, t).collect()),
                     len(existing & set(opened)))
    (s, rows, n_open), (fs, frows, f_open) = res["manifest"], res["footer"]
    assert (n_open, f_open) == (0, 6)
    assert rows == frows and len(rows) == s.rows == fs.rows == 121
    assert _added_rows(s) == _added_rows(fs) == 41
    assert len(set(s.files) & set(snap.files)) == 4    # carried by reference
    assert set(s.file_rows) == set(s.files)
    assert sum(s.file_rows.values()) == s.rows

    t = tables["manifest"]
    c = sn.compact(spark, t, target_file_mb=1)
    assert c is not None and set(c.file_rows) == set(c.files)
    assert sum(c.file_rows.values()) == c.rows == _added_rows(c) == 121
    r = sn.rollback(t, s.version)
    assert r.file_rows == s.file_rows and _added_rows(r) == 0


def test_merge_rejects_duplicate_update_keys(spark, tmp_path):
    t = str(tmp_path / "tbl")
    sn.commit(_df(spark, 0, 3), t)
    dup = spark.createDataFrame([(1, 10), (1, 20)], "id long, v long")
    with pytest.raises(ValueError, match="duplicate update key"):
        sn.merge_upsert(spark, dup, t, "id")


def test_concurrent_writers_race_without_wedge(spark, tmp_path):
    """Two writers hammer the same table with CAS+retry loops: every
    version has exactly one winner, conflicts are always retryable (no
    permanent wedge — the round-5 hardening's point), and the final
    table contains every writer's rows exactly once."""
    import threading

    t = str(tmp_path / "race")
    sn.commit(_df(spark, 0, 1), t)
    per_writer, n_writers = 6, 2
    errors, conflicts = [], [0]

    def writer(wid):
        for i in range(per_writer):
            lo = 1000 * (wid + 1) + 10 * i
            df = spark.range(lo, lo + 2).selectExpr("id", "id * 10 as v")
            for _attempt in range(50):
                try:
                    cur = sn.current_version(t)
                    sn.commit(df, t, expected_version=cur)
                    break
                except sn.CommitConflict:
                    conflicts[0] += 1
            else:
                errors.append(f"writer {wid} step {i} starved")

    threads = [threading.Thread(target=writer, args=(w,))
               for w in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    # exactly one manifest per version, contiguous history
    vs = [s.version for s in sn.snapshots(t)]
    assert vs == list(range(1, 1 + 1 + per_writer * n_writers))
    # every writer's rows landed exactly once
    got = sorted(r["id"] for r in sn.read_snapshot(spark, t).collect())
    want = sorted([0] + [1000 * (w + 1) + 10 * i + d
                         for w in range(n_writers)
                         for i in range(per_writer) for d in (0, 1)])
    assert got == want
    # rows bookkeeping agrees with reality
    assert sn.snapshots(t)[-1].rows == len(want)


def test_compact_rewrites_layout_not_content(spark, tmp_path):
    """rewrite_data_files analog: many per-batch files fold into few,
    rows and schema identical, history keeps the old layout, the
    exactly-once gate is undisturbed, and a second run no-ops."""
    t = str(tmp_path / "tbl")
    for b in range(5):
        sn.commit_stream_batch(
            _df(spark, b * 3, b * 3 + 3).repartition(2), t, batch_id=b)
    pre = sn.snapshots(t)[-1]
    assert len(pre.files) >= 10
    s = sn.compact(spark, t)
    assert s is not None and s.operation == "compact"
    assert len(s.files) < len(pre.files)
    assert s.rows == pre.rows == 15
    got = sorted(r["id"] for r in sn.read_snapshot(spark, t).collect())
    assert got == list(range(15))
    # old layout still time-travels; gate still holds; second run no-ops
    assert sn.read_snapshot(spark, t, version=pre.version).count() == 15
    assert sn.commit_stream_batch(_df(spark, 0, 3), t, batch_id=4) is None
    assert sn.compact(spark, t) is None


def test_manifest_stats_prune_scans(spark, tmp_path):
    """Manifest-level file statistics (Iceberg plan-time pruning): commits
    made with stats_cols record per-file [min,max]; scan_snapshot reads
    only intersecting files (observed via inputFiles) while results stay
    identical to the unpruned read + predicate; appends inherit the
    stats columns; compaction regenerates them."""
    t = str(tmp_path / "tbl")
    sn.commit(_df(spark, 0, 100).repartition(1), t, stats_cols=("id",))
    sn.commit(_df(spark, 1000, 1100).repartition(1), t)   # inherits
    sn.commit(_df(spark, 5000, 5100).repartition(1), t)
    snap = sn.snapshots(t)[-1]
    assert len(snap.files) == 3
    assert all(f in snap.file_stats and "id" in snap.file_stats[f]
               for f in snap.files)

    pruned = sn.scan_snapshot(spark, t, "id", lo=1000, hi=1099)
    assert len(pruned.inputFiles()) == 1
    got = sorted(r["id"] for r in
                 pruned.where("id between 1000 and 1099").collect())
    full = sorted(r["id"] for r in
                  sn.read_snapshot(spark, t)
                  .where("id between 1000 and 1099").collect())
    assert got == full == list(range(1000, 1100))
    # open-ended bounds
    assert len(sn.scan_snapshot(spark, t, "id", lo=4000).inputFiles()) == 1
    assert len(sn.scan_snapshot(spark, t, "id", hi=150).inputFiles()) == 1
    # prune-to-zero returns a typed empty frame
    none = sn.scan_snapshot(spark, t, "id", lo=2000, hi=2500)
    assert none.count() == 0 and [f.name for f in none.schema] == ["id", "v"]
    # compaction carries the stats machinery
    s = sn.compact(spark, t, target_file_mb=1)
    if s is not None:
        assert all("id" in st for st in s.file_stats.values())


def test_stats_on_timestamps_nested_shadow_and_maintenance(spark, tmp_path):
    """Round-5 review fixes: (a) timestamp stats serialize and prune with
    datetime bounds; (b) a nested struct field named like a top-level
    column cannot shadow its stats; (c) rollback and overwrite carry the
    stats machinery; (d) mismatched bound types raise a named error."""
    import datetime as dt

    # INT96 (Spark's legacy default) carries NO footer min/max — time
    # pruning needs the modern physical type
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    t = str(tmp_path / "ts_tbl")
    df1 = spark.sql(
        "select id, timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) as ts,"
        " named_struct('id', id + 100000) as s from range(0, 50)")
    sn.commit(df1.repartition(1), t, stats_cols=("ts", "id"))
    df2 = spark.sql(
        "select id, timestamp'2024-06-01 00:00:00' + make_interval(0,0,0,0,0,0,id) as ts,"
        " named_struct('id', id + 100000) as s from range(1000, 1050)")
    sn.commit(df2.repartition(1), t)                    # inherits both cols
    snap = sn.snapshots(t)[-1]
    assert len(snap.files) == 2
    for st in snap.file_stats.values():
        assert set(st) == {"ts", "id"}
    # (b) top-level id stats are the TOP-LEVEL values, not s.id's
    for st in snap.file_stats.values():
        assert st["id"][1] < 100000, st["id"]
    pruned = sn.scan_snapshot(spark, t, "id", lo=1000)
    assert len(pruned.inputFiles()) == 1
    # (a) datetime bounds prune the time range
    tp = sn.scan_snapshot(spark, t, "ts", lo=dt.datetime(2024, 5, 1))
    assert len(tp.inputFiles()) == 1
    assert tp.count() == 50
    # (d) mismatched bound type raises a named error
    with pytest.raises(TypeError, match="not comparable with column"):
        sn.scan_snapshot(spark, t, "ts", lo=5).inputFiles()
    # (c) rollback keeps stats; overwrite inherits them
    sn.rollback(t, 1)
    assert sn.snapshots(t)[-1].file_stats
    assert len(sn.scan_snapshot(spark, t, "id", lo=10_000).inputFiles()) \
        <= 1
    sn.commit(df2.repartition(1), t, mode="overwrite")
    last = sn.snapshots(t)[-1]
    assert last.file_stats and all(
        set(st) == {"ts", "id"} for st in last.file_stats.values())


def test_commit_reports_staged_files(spark, tmp_path):
    """A commit's Snapshot reports exactly the data files it staged: the
    new tail of an append's file list, the whole list of an overwrite,
    and the landed batch of commit_stream_batch; a replay no-op reports
    nothing (None)."""
    t = str(tmp_path / "tbl")

    def rows_of(snap):
        return sorted(r["id"] for r in spark.read.parquet(
            *[os.path.join(t, f) for f in snap.added_files]).collect())

    s1 = sn.commit(_df(spark, 0, 4), t)
    assert s1.added_files and list(s1.added_files) == s1.files
    s2 = sn.commit(_df(spark, 4, 7), t)
    assert set(s2.added_files) == set(s2.files) - set(s1.files)
    assert rows_of(s2) == [4, 5, 6]
    s3 = sn.commit(_df(spark, 10, 12), t, mode="overwrite")
    assert list(s3.added_files) == s3.files
    assert not set(s3.added_files) & set(s2.files)
    assert rows_of(s3) == [10, 11]

    b0 = sn.commit_stream_batch(_df(spark, 20, 23), t, batch_id=0)
    assert set(b0.added_files) == set(b0.files) - set(s3.files)
    assert rows_of(b0) == [20, 21, 22]
    assert sn.commit_stream_batch(_df(spark, 20, 23), t, batch_id=0) is None
    # a manifest loaded from disk does not claim any staged files
    assert sn.snapshots(t)[-1].added_files == ()


def _aged_tree(root, files, age_sec):
    """Create ``root`` with ``files`` (relative paths) and age every path
    in it by ``age_sec``."""
    for rel in files:
        os.makedirs(os.path.dirname(os.path.join(root, rel)), exist_ok=True)
        with open(os.path.join(root, rel), "wb") as fh:
            fh.write(b"PAR1")
    old = time.time() - age_sec
    for d, dirs, names in os.walk(root):
        for n in dirs + names:
            os.utime(os.path.join(d, n), (old, old))
    os.utime(root, (old, old))


def test_expire_sweeps_aged_stage_dirs(spark, tmp_path):
    """A crashed write's ``_stage-*`` directory idle past the grace is
    removed by expire_snapshots; the table itself is untouched."""
    t = str(tmp_path / "tbl")
    sn.commit(_df(spark, 0, 4), t)
    stage = os.path.join(t, "_stage-crashed")
    _aged_tree(stage, ["part-00000.parquet", "_temporary/0/part-00001.parquet"],
               age_sec=7200)
    out = sn.expire_snapshots(t, keep_last=5, orphan_grace_sec=3600)
    assert out["stage_dirs_deleted"] == 1 and not os.path.exists(stage)
    assert sn.read_snapshot(spark, t).count() == 4


def test_expire_keeps_fresh_stage_dirs(spark, tmp_path):
    """Stage directories younger than the grace survive — including one
    whose top is old but whose tree a live write is still touching."""
    t = str(tmp_path / "tbl")
    sn.commit(_df(spark, 0, 4), t)
    fresh = os.path.join(t, "_stage-fresh")
    _aged_tree(fresh, ["part-00000.parquet"], age_sec=0)
    live = os.path.join(t, "_stage-live")
    _aged_tree(live, ["_temporary/0/part-00000.parquet"], age_sec=7200)
    with open(os.path.join(live, "_temporary", "0", "part-00001.parquet"), "wb") as fh:
        fh.write(b"PAR1")
    os.utime(live, (time.time() - 7200,) * 2)
    out = sn.expire_snapshots(t, keep_last=5, orphan_grace_sec=3600)
    assert out["stage_dirs_deleted"] == 0
    assert os.path.isdir(fresh) and os.path.isdir(live)
