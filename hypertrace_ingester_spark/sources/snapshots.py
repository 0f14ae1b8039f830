"""Snapshot-versioned parquet tables — the Iceberg COMMIT SEMANTICS the
north rule names, implemented over plain parquet + JSON manifests because
the sandbox image carries no iceberg-spark-runtime jar (re-probed every
round; BENCH/BASELINE.md "Iceberg sink status"). When the jar exists,
every call site swaps to `.format("iceberg")` and this module retires;
until then it provides the semantics users of an Iceberg sink actually
rely on, each with the same contract:

- **atomic commit**: data files land in a staging dir, then ONE manifest
  file appears atomically (full JSON written to a hidden temp, then
  ``os.link`` into the versioned name — link is exclusive AND the
  content is complete at link time). The manifest's existence IS the
  commit; there is deliberately NO separate current-pointer file — a
  second source of truth would let a crash between two writes wedge the
  table (review find: an orphaned manifest + stale pointer made every
  later commit conflict forever while the idempotency gate thought the
  data had landed). ``current_version`` derives from the manifest set.
- **optimistic concurrency**: the manifest's version number is the lock.
  Two writers racing to commit version N+1 both try to link
  ``v000N+1.json``; the loser gets :class:`CommitConflict` (Iceberg's
  CAS on the catalog pointer).
- **time travel**: ``read_snapshot(..., version=)`` / ``as_of_ts=`` read
  the exact file list a past manifest pinned, with that version's own
  schema.
- **rollback**: a NEW version whose file list is an old version's —
  history is append-only, like ``rollback_to_snapshot``.
- **MERGE INTO**: :func:`merge_upsert` — copy-on-write upsert with
  footer-pruned file selection (untouched files carried by reference).
- **exactly-once streaming**: :func:`commit_stream_batch` — every
  manifest carries the running ``batch_seq`` (highest micro-batch id
  ever committed), so the replay gate is one manifest read, O(1), and
  survives :func:`expire_snapshots` dropping old batch-bearing manifests
  (review find: a history-scan gate was voided by expiry).
- **expiry**: ``expire_snapshots`` drops old manifests, deletes data
  files no surviving manifest references, and sweeps ORPHANED data files
  (from crashed or conflict-losing commits) past a grace age.

Scale shape: manifests are O(files) JSON — the listing a 1000-executor
read plans from without a directory scan; data files are written by
executors in parallel (one ``df.write`` per commit), and a read is an
explicit-path parquet scan (partition pruning and column pruning apply
as usual). Single-table, filesystem-atomic (POSIX link/rename) — the
documented stand-in scope.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic-lock loss).
    Retry: re-read the current version and re-commit on top of it."""


@dataclass
class Snapshot:
    version: int
    ts: float
    operation: str
    files: list
    rows: int
    parent: int | None
    batch_id: int | None = None
    schema_json: str | None = None
    batch_seq: int = -1
    file_stats: dict = None  # {rel_path: {col: [min, max]}}
    # data files THIS commit staged (relative paths) — set on the Snapshot
    # a write returns, so a caller can read back exactly what it landed;
    # not persisted (a manifest loaded later leaves it empty)
    added_files: tuple = ()


def _snap_dir(path: str) -> str:
    return os.path.join(path, "_snapshots")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_snap_dir(path), f"v{version:06d}.json")


def _versions(path: str) -> list:
    """Committed version numbers, ascending NUMERIC order (names are
    zero-padded for readability only — sorting parsed integers keeps the
    history correct past v999999, review find)."""
    try:
        names = os.listdir(_snap_dir(path))
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        if n.startswith("v") and n.endswith(".json"):
            out.append(int(n[1:-5]))
    return sorted(out)


def current_version(path: str) -> int | None:
    """The committed version (highest manifest), or None for an
    empty/uninitialized table."""
    vs = _versions(path)
    return vs[-1] if vs else None


def _load_manifest(path: str, version: int) -> Snapshot:
    try:
        with open(_manifest_path(path, version)) as fh:
            d = json.load(fh)
    except FileNotFoundError:
        raise ValueError(
            f"snapshot v{version} of {path} does not exist (expired or "
            "never committed)"
        ) from None
    bid = d.get("batch_id")
    return Snapshot(
        version=d["version"], ts=d["ts"], operation=d["operation"],
        files=d["files"], rows=d["rows"], parent=d.get("parent"),
        batch_id=bid, schema_json=d.get("schema"),
        batch_seq=d.get("batch_seq", bid if bid is not None else -1),
        file_stats=d.get("file_stats") or {},
    )


def _schema_key(schema_json: str):
    """Name+type structural key for schema comparison: nullability and
    field metadata are stripped recursively (Iceberg-style by-name/type
    check — a non-nullable frame writes fine into a nullable table; exact
    JSON equality would reject it)."""
    def strip(node):
        if isinstance(node, dict):
            return {k: strip(v) for k, v in node.items()
                    if k not in ("nullable", "metadata", "containsNull",
                                 "valueContainsNull")}
        if isinstance(node, list):
            return [strip(v) for v in node]
        return node

    return json.dumps(strip(json.loads(schema_json)), sort_keys=True)


def _commit_manifest(path: str, new_version: int, manifest: dict,
                     added_files: list | tuple = ()) -> Snapshot:
    """The commit point, shared by every write path: the manifest's full
    JSON is written to a hidden temp file, then ``os.link``ed into the
    versioned name — exclusive (link fails if the target exists: the
    optimistic lock) AND atomic-with-complete-content (a reader or a
    crash can never observe a half-written manifest; a crash before the
    link leaves nothing committed, only orphaned data files for the
    expiry sweep). The temp is removed on EVERY exit, including a
    serialization failure mid-dump (review find: a raise inside the
    write block leaked it). The returned Snapshot reports ``added_files``,
    the files this commit staged."""
    tmp = os.path.join(_snap_dir(path), f".tmp-{uuid.uuid4().hex}")
    try:
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, _manifest_path(path, new_version))
        except FileExistsError:
            raise CommitConflict(
                f"version v{new_version} of {path} was committed "
                "concurrently"
            ) from None
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass
    return replace(_load_manifest(path, new_version),
                   added_files=tuple(added_files))


def _stats_encode(v):
    """Footer min/max → JSON-storable value. Numbers/strings/bools pass
    through; datetimes/dates become tagged ISO strings (the natural
    pruning column for an ingester is a time range — review find: raw
    datetime crashed json.dump); anything else (bytes, decimals) returns
    None = don't record stats for this value."""
    import datetime as _dt

    if isinstance(v, bool) or isinstance(v, (int, float, str)):
        return v
    if isinstance(v, _dt.datetime):
        return {"_t": "dt", "v": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"_t": "d", "v": v.isoformat()}
    return None


def _stats_decode(v):
    import datetime as _dt

    if isinstance(v, dict) and "_t" in v:
        if v["_t"] == "dt":
            return _dt.datetime.fromisoformat(v["v"])
        if v["_t"] == "d":
            return _dt.date.fromisoformat(v["v"])
    return v


def _stats_cols_of(snap: Snapshot) -> tuple:
    """The stats columns a manifest carries (ONE derivation shared by
    append-inheritance, merge, and compact — review find: three copies)."""
    return tuple(sorted(
        {c for st in (snap.file_stats or {}).values() for c in st}))


def _top_level_column_index(md) -> dict:
    """{top-level column name -> parquet column position}. Uses the full
    dotted PATH, not the leaf name — for schema {id, s: struct<id>} both
    leaves are NAMED 'id' and the leaf-name dict silently recorded the
    struct-inner column's stats under the top-level name (review find:
    wrong pruning = wrong results). Nested leaves are excluded — only
    top-level columns are prunable here."""
    out = {}
    for i in range(md.num_columns):
        p = md.schema.column(i).path
        if "." not in p:
            out[p] = i
    return out


def _stage_files(df: DataFrame, path: str, new_version: int,
                 stats_cols: tuple = ()):
    """Write ``df``'s parquet files under data/ with a commit-local prefix;
    returns (relative paths, total rows, per-file column stats). A
    failed/conflicted commit leaves only unreferenced data files, which
    :func:`expire_snapshots`' orphan sweep garbage-collects.

    ``stats_cols``: record each file's footer [min, max] for these
    columns INTO THE MANIFEST (Iceberg's manifest-level file statistics)
    — :func:`scan_snapshot` then prunes files at plan time from one JSON
    read, no footer access. The footers are already open here for the
    row counts, so the stats are free at commit time. Note: timestamp
    columns only carry footer stats under the modern physical type (set
    ``spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS``; Spark's
    legacy INT96 default writes no min/max, so those columns are simply
    not recorded)."""
    import pyarrow.parquet as pq

    from .compaction import footer_range

    stage = os.path.join(path, f"_stage-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(stage)
    prefix = f"c{new_version:06d}-{uuid.uuid4().hex[:8]}"
    new_files, rows, file_stats = [], 0, {}
    for i, name in enumerate(sorted(os.listdir(stage))):
        if not name.endswith(".parquet"):
            continue
        rel = os.path.join("data", f"{prefix}-{i:05d}.parquet")
        os.rename(os.path.join(stage, name), os.path.join(path, rel))
        md = pq.ParquetFile(os.path.join(path, rel)).metadata
        rows += md.num_rows
        new_files.append(rel)
        if stats_cols:
            idx = _top_level_column_index(md)
            st = {}
            for col in stats_cols:
                rng = footer_range(md, idx[col]) if col in idx else None
                if rng is not None:
                    lo, hi = _stats_encode(rng[0]), _stats_encode(rng[1])
                    if lo is not None and hi is not None:
                        st[col] = [lo, hi]
            if st:
                file_stats[rel] = st
    shutil.rmtree(stage, ignore_errors=True)
    return new_files, rows, file_stats


def commit(
    df: DataFrame,
    path: str,
    mode: str = "append",
    expected_version: int | None = ...,
    batch_id: int | None = None,
    stats_cols: tuple = (),
) -> Snapshot:
    """Write ``df`` as the next snapshot of the table at ``path``.

    ``stats_cols`` records per-file [min, max] manifest statistics for
    those columns (free at commit time — the footers are already open);
    :func:`scan_snapshot` prunes from them at plan time. Appends inherit
    the table's existing stats columns automatically, so one initial
    commit with ``stats_cols`` keeps the whole table pruned.

    ``mode="append"`` adds the new files to the current file list;
    ``"overwrite"`` replaces it. ``expected_version`` (optional) asserts
    the version this commit builds on — pass the version you read to get
    compare-and-swap semantics across a read-modify-write; by default the
    commit builds on whatever is current (blind append, Iceberg's
    fast-append). Raises :class:`CommitConflict` when the next version's
    manifest already exists (a racing writer won).

    The returned Snapshot's ``added_files`` lists the data files this
    commit staged (for ``overwrite`` that is the whole new file list).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    os.makedirs(_snap_dir(path), exist_ok=True)
    os.makedirs(os.path.join(path, "data"), exist_ok=True)

    cur = current_version(path)
    if expected_version is not ... and expected_version != cur:
        raise CommitConflict(
            f"table moved: expected v{expected_version}, current is v{cur}")
    prev = _load_manifest(path, cur) if cur is not None else None
    # schema enforcement (Iceberg writes are schema-checked): an append
    # must match the table's current schema exactly — silently unioning
    # mismatched parquet files would surface as nulls/corruption at read
    # time. Overwrite SETS a new schema (the evolution path: rewrite with
    # the new shape; per-version schemas make old snapshots read with
    # their own schema).
    if mode == "append" and prev is not None:
        if prev.schema_json is not None and \
                _schema_key(prev.schema_json) != _schema_key(df.schema.json()):
            raise ValueError(
                f"append schema mismatch vs v{cur} of {path}: table has "
                f"{prev.schema_json} but frame has {df.schema.json()} — "
                "overwrite to change the schema"
            )

    # appends AND overwrites inherit the table's existing stats columns
    # (restricted to columns the new frame still has), so pruning stays
    # uniform without re-passing stats_cols per batch and an overwrite
    # doesn't silently lose it (review find)
    eff_stats_cols = tuple(stats_cols)
    if not eff_stats_cols and prev is not None and prev.file_stats:
        eff_stats_cols = tuple(
            c for c in _stats_cols_of(prev) if c in df.columns)

    new_version = (cur or 0) + 1
    new_files, rows, new_stats = _stage_files(
        df, path, new_version, stats_cols=eff_stats_cols)

    base = prev.files if mode == "append" and prev is not None else []
    base_rows = prev.rows if mode == "append" and prev is not None else 0
    base_stats = dict(prev.file_stats or {}) \
        if mode == "append" and prev is not None else {}
    base_stats.update(new_stats)
    prev_seq = prev.batch_seq if prev is not None else -1
    manifest = {
        "version": new_version,
        "ts": time.time(),
        "operation": mode,
        "files": base + new_files,
        "rows": base_rows + rows,
        "parent": cur,
        "batch_id": batch_id,
        "batch_seq": max(prev_seq, batch_id if batch_id is not None else -1),
        "schema": df.schema.json(),
        "file_stats": base_stats,
    }
    return _commit_manifest(path, new_version, manifest, new_files)


def commit_stream_batch(
    df: DataFrame,
    path: str,
    batch_id: int,
    mode: str = "append",
) -> Snapshot | None:
    """Idempotent micro-batch commit — the Iceberg exactly-once
    ``foreachBatch`` recipe: micro-batch ids are monotone, so a batch
    whose id is ≤ the table's running ``batch_seq`` is a RETRY REPLAY of
    work that already landed, and the commit no-ops (returns None).
    Structured Streaming re-runs a failed batch with the same id after
    restart; with a plain parquet append that double-appends
    (at-least-once) — with this gate the routed sink is exactly-once.
    A landed batch returns :func:`commit`'s Snapshot, whose
    ``added_files`` are exactly this batch's rows.

    The gate reads ONE manifest (the current one) — O(1) per batch — and
    because every commit, including maintenance commits (merge/rollback/
    compaction-style rewrites), carries the running ``batch_seq``
    forward, expiring old batch-bearing manifests cannot void it
    (review finds: the first version scanned all manifests per batch and
    lost the gate entirely once expiry dropped them)."""
    cur = current_version(path)
    if cur is not None and \
            _load_manifest(path, cur).batch_seq >= batch_id:
        return None
    return commit(df, path, mode=mode, batch_id=batch_id)


def snapshots(path: str) -> list:
    """Committed history, oldest first by NUMERIC version (expired
    versions absent)."""
    return [_load_manifest(path, v) for v in _versions(path)]


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    as_of_ts: float | None = None,
) -> DataFrame:
    """Read the table as of a version (time travel). Default: current.
    ``as_of_ts`` resolves to the latest snapshot committed at or before
    that timestamp."""
    if version is not None and as_of_ts is not None:
        raise ValueError("pass version OR as_of_ts, not both")
    if as_of_ts is not None:
        eligible = [s for s in snapshots(path) if s.ts <= as_of_ts]
        if not eligible:
            raise ValueError(f"no snapshot of {path} at or before {as_of_ts}")
        version = eligible[-1].version
    if version is None:
        version = current_version(path)
        if version is None:
            raise ValueError(f"{path} has no committed snapshots")
    snap = _load_manifest(path, version)
    if not snap.files:
        # empty snapshot: typed-empty read from the pinned schema
        if snap.schema_json is None:
            raise ValueError(
                f"snapshot v{version} of {path} lists no files and pins "
                "no schema")
        from pyspark.sql.types import StructType

        return spark.createDataFrame(
            [], StructType.fromJson(json.loads(snap.schema_json)))
    return spark.read.parquet(*[os.path.join(path, f) for f in snap.files])


def scan_snapshot(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """Manifest-pruned read: keep only files whose recorded [min, max]
    for ``col`` intersects [lo, hi] (either bound None = unbounded) —
    Iceberg's plan-time file pruning from manifest statistics, ONE JSON
    read, no footer access. Files without recorded stats are kept (can't
    prune what wasn't measured). The caller still applies the real
    predicate — pruning only shrinks the scan set, never changes results
    (tests assert both). Requires a commit made with ``stats_cols``."""
    if version is None:
        version = current_version(path)
        if version is None:
            raise ValueError(f"{path} has no committed snapshots")
    snap = _load_manifest(path, version)
    stats = snap.file_stats or {}

    import datetime as _dt

    def cmp_pair(a, b):
        # footer timestamps decode tz-aware (parquet isAdjustedToUTC);
        # a naive bound means UTC by repo convention (session tz = UTC)
        if isinstance(a, _dt.datetime) and isinstance(b, _dt.datetime) \
                and (a.tzinfo is None) != (b.tzinfo is None):
            if a.tzinfo is None:
                a = a.replace(tzinfo=_dt.timezone.utc)
            else:
                b = b.replace(tzinfo=_dt.timezone.utc)
        return a, b

    def keep(rel):
        st = stats.get(rel, {}).get(col)
        if st is None:
            return True
        fmin, fmax = _stats_decode(st[0]), _stats_decode(st[1])
        try:
            if lo is not None:
                a, b = cmp_pair(fmax, lo)
                if a < b:
                    return False
            if hi is not None:
                a, b = cmp_pair(fmin, hi)
                if a > b:
                    return False
        except TypeError:
            raise TypeError(
                f"scan_snapshot: bound type "
                f"{type(lo if lo is not None else hi).__name__} is not "
                f"comparable with column {col!r}'s recorded stats type "
                f"{type(fmin).__name__} (file {rel})"
            ) from None
        return True

    files = [f for f in snap.files if keep(f)]
    if not files:
        from pyspark.sql.types import StructType

        if snap.schema_json is None:
            raise ValueError(
                f"snapshot v{version} of {path} pruned to zero files and "
                "pins no schema")
        return spark.createDataFrame(
            [], StructType.fromJson(json.loads(snap.schema_json)))
    return spark.read.parquet(*[os.path.join(path, f) for f in files])


def merge_upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_col: str,
    max_keys: int = 1_000_000,
) -> Snapshot:
    """Copy-on-write MERGE INTO (upsert by key) as a NEW snapshot — the
    last leg of the lakehouse DML triad (append/overwrite = commit,
    DELETE = compaction.delete_ids, MERGE = here): rows of the current
    snapshot whose ``key_col`` matches an update row are replaced, all
    other update rows are inserted, and every untouched data file is
    carried into the new manifest BY REFERENCE — never read, never
    rewritten (the tests assert byte-identity; time travel still sees the
    pre-merge rows through the old manifest).

    File pruning shares ``compaction.footer_range`` with ``delete_ids``
    (one copy of the row-group statistics subtleties): only files whose
    footer [min, max] for ``key_col`` intersects an update key are
    re-read, anti-joined against the (broadcast) update keys — a JOIN,
    not a million-literal ``isin`` expression — and rewritten together
    with the updates as new data files. NULL-keyed table rows always
    survive (a merge must never drop un-addressed rows); NULL-keyed
    update rows match nothing and insert as plain rows. Duplicate keys
    WITHIN the updates raise — real MERGE INTO rejects multiple source
    matches rather than silently writing duplicate keys.

    Update keys are collected driver-side under ``max_keys`` (the
    bounded-collect guard pattern) for the footer pruning; beyond that,
    batch the merge. On a by-key-clustered table a narrow upsert touches
    one file.

    Raises :class:`CommitConflict` under the same optimistic lock as
    every other commit; append-shape schema enforcement applies."""
    import bisect

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from .compaction import footer_range

    cur = current_version(path)
    if cur is None:
        return commit(updates, path, mode="append")
    snap = _load_manifest(path, cur)
    if snap.schema_json is not None and \
            _schema_key(snap.schema_json) != \
            _schema_key(updates.schema.json()):
        raise ValueError(
            f"merge schema mismatch vs v{cur} of {path} — updates must "
            "match the table schema exactly")
    key_frame = updates.select(key_col).where(
        F.col(key_col).isNotNull())
    dup = key_frame.groupBy(key_col).count().where("count > 1") \
        .limit(1).collect()
    if dup:
        raise ValueError(
            f"merge_upsert: duplicate update key {dup[0][key_col]!r} — "
            "MERGE INTO requires at most one source row per key")
    key_rows = key_frame.limit(max_keys + 1).collect()
    if len(key_rows) > max_keys:
        raise ValueError(
            f"merge_upsert requires a bounded update-key set (> {max_keys} "
            "distinct keys) — batch the merge")
    keys = sorted(r[key_col] for r in key_rows)

    untouched, touched, untouched_rows = [], [], 0
    for rel in snap.files:
        fpath = os.path.join(path, rel)
        md = pq.ParquetFile(fpath).metadata
        idx = _top_level_column_index(md)
        rng = footer_range(md, idx[key_col]) if key_col in idx else None
        if rng is not None:
            lo, hi = rng
            left = bisect.bisect_left(keys, lo)
            if left >= len(keys) or keys[left] > hi:
                untouched.append(rel)
                untouched_rows += md.num_rows
                continue
        elif not keys:
            untouched.append(rel)
            untouched_rows += md.num_rows
            continue
        touched.append(rel)

    new_version = cur + 1
    if touched:
        survivors = spark.read.parquet(
            *[os.path.join(path, f) for f in touched]
        ).join(
            F.broadcast(updates.select(key_col).distinct()
                        .where(F.col(key_col).isNotNull())),
            on=key_col, how="left_anti",
        )
        to_write = survivors.unionByName(updates)
    else:
        to_write = updates
    new_files, new_rows, new_stats = _stage_files(
        to_write, path, new_version, stats_cols=_stats_cols_of(snap))
    untouched_set = set(untouched)
    stats = {f: st for f, st in (snap.file_stats or {}).items()
             if f in untouched_set}
    stats.update(new_stats)
    manifest = {
        "version": new_version, "ts": time.time(), "operation": "merge",
        "files": untouched + new_files,
        "rows": untouched_rows + new_rows,
        "parent": cur, "schema": updates.schema.json(),
        "batch_seq": snap.batch_seq, "file_stats": stats,
    }
    return _commit_manifest(path, new_version, manifest, new_files)


def compact(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
) -> Snapshot | None:
    """``rewrite_data_files`` analog for snapshot tables: rewrite the
    CURRENT file list into ≈``target_file_mb`` files as a NEW snapshot
    with identical rows (the streaming sink's many small per-batch files
    fold into a few scan-friendly ones; history keeps the old layout
    until :func:`expire_snapshots` reclaims it). No-op (returns None)
    when the table already has one file or is empty — an idempotent
    nightly run costs a metadata probe. ``batch_seq`` carries forward, so
    compaction never disturbs the exactly-once gate."""
    cur = current_version(path)
    if cur is None:
        return None
    snap = _load_manifest(path, cur)
    if len(snap.files) <= 1:
        return None
    total = sum(os.path.getsize(os.path.join(path, f)) for f in snap.files)
    n = max(1, -(-total // (target_file_mb * 1024 * 1024)))
    if n >= len(snap.files):
        return None                  # already at/under target geometry
    df = spark.read.parquet(*[os.path.join(path, f) for f in snap.files])
    new_version = cur + 1
    new_files, rows, new_stats = _stage_files(
        df.coalesce(int(n)), path, new_version,
        stats_cols=_stats_cols_of(snap))
    manifest = {
        "version": new_version, "ts": time.time(), "operation": "compact",
        "files": new_files, "rows": rows, "parent": cur,
        "schema": snap.schema_json, "batch_seq": snap.batch_seq,
        "file_stats": new_stats,
    }
    return _commit_manifest(path, new_version, manifest, new_files)


def rollback(path: str, version: int) -> Snapshot:
    """Commit a NEW version whose content is ``version``'s file list —
    history stays append-only (Iceberg rollback_to_snapshot). The running
    ``batch_seq`` is carried from CURRENT, not the rollback target: a
    replay of a rolled-back batch stays a no-op (re-ingest deliberately,
    with fresh batch ids)."""
    old = _load_manifest(path, version)
    cur = current_version(path)
    cur_seq = _load_manifest(path, cur).batch_seq if cur is not None else -1
    new_version = (cur or 0) + 1
    manifest = {
        "version": new_version, "ts": time.time(),
        "operation": f"rollback-to-v{version}",
        "files": old.files, "rows": old.rows, "parent": cur,
        "schema": old.schema_json, "batch_seq": cur_seq,
        # the file list is exactly old.files, so old's stats are exactly
        # valid — dropping them would silently kill pruning AND the
        # append-inheritance chain for the whole table (review find)
        "file_stats": old.file_stats or {},
    }
    return _commit_manifest(path, new_version, manifest)


def expire_snapshots(
    path: str,
    keep_last: int = 2,
    orphan_grace_sec: float = 86_400.0,
) -> dict:
    """Drop all but the last ``keep_last`` snapshots, delete data files no
    surviving manifest references, and sweep ORPHANED data files — files
    staged by crashed or conflict-losing commits that no manifest ever
    referenced (review find: they otherwise leak forever). Orphans are
    only removed once older than ``orphan_grace_sec`` so the sweep can
    never race an in-flight commit that has staged its files but not yet
    linked its manifest. The same grace applies to ``_stage-*`` directories
    a crashed write left behind: one is removed once nothing under it has
    been modified for ``orphan_grace_sec``. The current version always
    survives. Returns {expired_versions, deleted_files, orphans_deleted,
    stage_dirs_deleted}."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    hist = snapshots(path)
    out = {"expired_versions": [], "deleted_files": 0, "orphans_deleted": 0,
           "stage_dirs_deleted": 0}
    if len(hist) > keep_last:
        keep = hist[-keep_last:]
        keep_versions = {s.version for s in keep}
        expired = [s for s in hist if s.version not in keep_versions]
        referenced = {f for s in keep for f in s.files}
        for s in expired:
            for f in s.files:
                if f not in referenced:
                    try:
                        os.remove(os.path.join(path, f))
                        out["deleted_files"] += 1
                    except FileNotFoundError:
                        pass
            os.remove(_manifest_path(path, s.version))
        out["expired_versions"] = [s.version for s in expired]
        hist = keep
    # orphan sweep: data files referenced by NO surviving manifest
    referenced = {f for s in hist for f in s.files}
    data_dir = os.path.join(path, "data")
    now = time.time()
    if os.path.isdir(data_dir):
        for name in os.listdir(data_dir):
            rel = os.path.join("data", name)
            fpath = os.path.join(data_dir, name)
            if rel in referenced or not name.endswith(".parquet"):
                continue
            try:
                if now - os.path.getmtime(fpath) >= orphan_grace_sec:
                    os.remove(fpath)
                    out["orphans_deleted"] += 1
            except FileNotFoundError:
                pass
    # stage sweep: _stage-* dirs of crashed writes
    for name in os.listdir(path) if os.path.isdir(path) else ():
        stage = os.path.join(path, name)
        if name.startswith("_stage-") and os.path.isdir(stage) and \
                now - _newest_mtime(stage, now) >= orphan_grace_sec:
            shutil.rmtree(stage, ignore_errors=True)
            out["stage_dirs_deleted"] += 1
    return out


def _newest_mtime(root: str, now: float) -> float:
    """Newest mtime of ``root`` and everything under it — a live write keeps
    touching its tree, so this is how long the tree has been idle. A path
    vanishing mid-walk means a write is moving files: report ``now``."""
    try:
        return max([os.path.getmtime(root)] + [
            os.path.getmtime(os.path.join(d, n))
            for d, dirs, files in os.walk(root) for n in dirs + files])
    except FileNotFoundError:
        return now
