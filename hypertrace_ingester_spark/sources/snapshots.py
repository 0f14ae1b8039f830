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
  Every write path builds its manifest in ONE writer (``_commit``), so
  every manifest has the same keys and carries the same state forward.
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
- **exactly-once streaming, per stream**: :func:`commit_stream_batch` —
  every manifest carries each stream's last committed micro-batch id
  (``streams``: {app_id: batch id}, Delta's ``txn`` action), so the
  replay gate is one manifest read, O(1), and survives
  :func:`expire_snapshots` dropping old batch-bearing manifests (review
  find: a history-scan gate was voided by expiry). Keying the gate by
  stream lets a fresh checkpoint, whose ids restart at 0, land its
  batches in an existing table instead of no-opping them all.
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

from .compaction import footer_ranges


class CommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic-lock loss).
    Retry: re-read the current version and re-commit on top of it."""


class BatchRegression(RuntimeError):
    """A stream offered a batch id below the last one it committed: its
    micro-batch ids went backwards (a checkpoint restored from an older
    copy, or two queries sharing one stream id). Landing the batch could
    duplicate rows and skipping it could lose them, so neither happens."""


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
    file_stats: dict = None  # {rel_path: {col: [min, max]}}
    file_rows: dict = None  # {rel_path: row count}
    # every stream's last committed batch id ("" = the default stream),
    # carried by every commit
    streams: dict = None  # {app_id: batch id}
    # data files THIS commit staged (relative paths) and their total rows —
    # set on the Snapshot a write returns, so a caller can read back exactly
    # what it landed; not persisted (a manifest loaded later leaves them
    # empty)
    added_files: tuple = ()
    added_rows: int = 0


# what a commit that carries no existing file builds on
_NO_FILES = Snapshot(0, 0.0, "", [], 0, None, file_stats={}, file_rows={})


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


def _decode(d: dict) -> Snapshot:
    bid = d.get("batch_id")
    streams = d.get("streams")
    if streams is None:
        # written before per-stream gates: one stream, whose running id
        # the manifest kept as batch_seq
        seq = d.get("batch_seq", -1 if bid is None else bid)
        streams = {"": seq} if seq >= 0 else {}
    return Snapshot(
        version=d["version"], ts=d["ts"], operation=d["operation"],
        files=d["files"], rows=d["rows"], parent=d.get("parent"),
        batch_id=bid, schema_json=d.get("schema"),
        file_stats=d.get("file_stats") or {},
        file_rows=d.get("file_rows") or {}, streams=streams,
    )


def _load_manifest(path: str, version: int) -> Snapshot:
    try:
        with open(_manifest_path(path, version)) as fh:
            return _decode(json.load(fh))
    except FileNotFoundError:
        raise ValueError(
            f"snapshot v{version} of {path} does not exist (expired or "
            "never committed)"
        ) from None


def _current(path: str) -> Snapshot | None:
    cur = current_version(path)
    return None if cur is None else _load_manifest(path, cur)


def _next_version(parent: Snapshot | None) -> int:
    return 1 if parent is None else parent.version + 1


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


def _check_schema(snap: Snapshot, schema_json: str, path: str, op: str):
    """Writes that add rows to ``snap``'s files must match its schema
    (Iceberg writes are schema-checked): silently unioning mismatched
    parquet files would surface as nulls/corruption at read time."""
    if snap.schema_json is not None and \
            _schema_key(snap.schema_json) != _schema_key(schema_json):
        raise ValueError(
            f"{op} schema mismatch vs v{snap.version} of {path}: table has "
            f"{snap.schema_json} but frame has {schema_json} — overwrite "
            "to change the schema"
        )


def _commit_manifest(path: str, new_version: int, manifest: dict,
                     added_files: list | tuple = ()) -> Snapshot:
    """The commit point: the manifest's full JSON is written to a hidden
    temp file, then ``os.link``ed into the versioned name — exclusive
    (link fails if the target exists: the optimistic lock) AND
    atomic-with-complete-content (a reader or a crash can never observe a
    half-written manifest; a crash before the link leaves nothing
    committed, only orphaned data files for the expiry sweep). The temp is
    removed on EVERY exit, including a serialization failure mid-dump
    (review find: a raise inside the write block leaked it). Returns the
    Snapshot of ``manifest`` itself (no re-read), reporting
    ``added_files`` and ``added_rows``, the files this commit staged and
    their rows."""
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
    snap = _decode(manifest)
    return replace(snap, added_files=tuple(added_files),
                   added_rows=sum(snap.file_rows[f] for f in added_files))


def _commit(path: str, parent: Snapshot | None, operation: str,
            schema_json: str | None, carried: Snapshot = _NO_FILES,
            staged: tuple = ([], {}, {}), batch: tuple = (None, None)) -> Snapshot:
    """THE manifest writer: append, overwrite, stream batch, merge,
    compaction and rollback all commit here. ``parent`` is the table's
    current snapshot (None for a new table); the version, the parent link
    and the per-stream gate state derive from it, and ``batch`` =
    (app_id, batch_id) of a stream batch is recorded on top of the
    parent's stream map — a maintenance commit carries the map unchanged,
    so it never disturbs the exactly-once gate. The file list is
    ``carried``'s files, kept by reference with their stats and row
    counts, plus the files ``staged`` (:func:`_stage_files`' result)."""
    new_files, new_rows, new_stats = staged
    app_id, batch_id = batch
    streams = dict(parent.streams) if parent is not None else {}
    if app_id is not None:
        streams[app_id] = batch_id
    version = _next_version(parent)
    manifest = {
        "version": version,
        "ts": time.time(),
        "operation": operation,
        "files": carried.files + new_files,
        "rows": carried.rows + sum(new_rows.values()),
        "parent": None if parent is None else parent.version,
        "batch_id": batch_id,
        "streams": streams,
        "schema": schema_json,
        "file_stats": {**carried.file_stats, **new_stats},
        "file_rows": {**carried.file_rows, **new_rows},
    }
    return _commit_manifest(path, version, manifest, new_files)


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


def _stage_files(df: DataFrame, path: str, parent: Snapshot | None,
                 stats_cols: tuple = ()):
    """Write ``df``'s parquet files under data/ with a prefix naming the
    version they are staged for; returns (relative paths, per-file row
    counts, per-file column stats) — the ``staged`` argument of
    :func:`_commit`. A failed/conflicted commit leaves only unreferenced
    data files, which :func:`expire_snapshots`' orphan sweep
    garbage-collects.

    ``stats_cols``: record each file's footer [min, max] for these
    columns INTO THE MANIFEST (Iceberg's manifest-level file statistics)
    — :func:`scan_snapshot` then prunes files at plan time from one JSON
    read, no footer access. By default they are the columns ``parent``
    records stats for that ``df`` still has, so appends, overwrites,
    merges and compactions keep a table pruned without re-passing them
    (review find: an overwrite silently lost them). The footers are
    already open here for the row counts, so the stats are free at commit
    time; the row counts go into the manifest too (``file_rows``), so
    :func:`merge_upsert` can prune and count carried files without opening
    them. Note: timestamp columns only carry footer stats under the modern
    physical type (set ``spark.sql.parquet.outputTimestampType=
    TIMESTAMP_MICROS``; Spark's legacy INT96 default writes no min/max, so
    those columns are simply not recorded)."""
    import pyarrow.parquet as pq

    if not stats_cols and parent is not None and parent.file_stats:
        stats_cols = sorted({c for st in parent.file_stats.values()
                             for c in st} & set(df.columns))
    os.makedirs(_snap_dir(path), exist_ok=True)
    os.makedirs(os.path.join(path, "data"), exist_ok=True)
    stage = os.path.join(path, f"_stage-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(stage)
    prefix = f"c{_next_version(parent):06d}-{uuid.uuid4().hex[:8]}"
    new_files, file_rows, file_stats = [], {}, {}
    for i, name in enumerate(sorted(os.listdir(stage))):
        if not name.endswith(".parquet"):
            continue
        rel = os.path.join("data", f"{prefix}-{i:05d}.parquet")
        os.rename(os.path.join(stage, name), os.path.join(path, rel))
        md = pq.ParquetFile(os.path.join(path, rel)).metadata
        file_rows[rel] = md.num_rows
        new_files.append(rel)
        encoded = {col: [_stats_encode(v) for v in rng]
                   for col, rng in footer_ranges(md, stats_cols).items()
                   if rng is not None}
        st = {col: v for col, v in encoded.items() if None not in v}
        if st:
            file_stats[rel] = st
    shutil.rmtree(stage, ignore_errors=True)
    return new_files, file_rows, file_stats


def _write(df: DataFrame, path: str, mode: str, prev: Snapshot | None,
           stats_cols: tuple = (), batch: tuple = (None, None)) -> Snapshot:
    """Stage ``df`` and commit it on top of ``prev``, the current snapshot
    the caller read: ``append`` keeps ``prev``'s files and must match its
    schema, ``overwrite`` replaces them and SETS a new schema (the
    evolution path; per-version schemas make old snapshots read with their
    own schema)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    schema_json = df.schema.json()
    carried = _NO_FILES
    if mode == "append" and prev is not None:
        _check_schema(prev, schema_json, path, "append")
        carried = prev
    return _commit(path, prev, mode, schema_json, carried,
                   _stage_files(df, path, prev, stats_cols), batch)


def commit(
    df: DataFrame,
    path: str,
    mode: str = "append",
    expected_version: int | None = ...,
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
    commit staged (for ``overwrite`` that is the whole new file list) and
    ``added_rows`` their row count.
    """
    prev = _current(path)
    cur = None if prev is None else prev.version
    if expected_version is not ... and expected_version != cur:
        raise CommitConflict(
            f"table moved: expected v{expected_version}, current is v{cur}")
    return _write(df, path, mode, prev, stats_cols)


def commit_stream_batch(
    df: DataFrame,
    path: str,
    batch_id: int,
    mode: str = "append",
    app_id: str | None = None,
) -> Snapshot | None:
    """Idempotent micro-batch commit — the Iceberg/Delta exactly-once
    ``foreachBatch`` recipe, gated per stream. ``app_id`` names the stream
    (``run_streaming_pipeline`` passes its query's checkpoint-stable id;
    None is one default stream), and a stream's micro-batch ids are
    monotone, so against the last id the table holds for that stream:

    - an EQUAL id is a RETRY REPLAY of work that already landed, and the
      commit no-ops (returns None). Structured Streaming re-runs a failed
      batch with the same id after restart; with a plain parquet append
      that double-appends (at-least-once) — with this gate the routed sink
      is exactly-once;
    - a LOWER id means the stream's ids went backwards and raises
      :class:`BatchRegression` — landing it could duplicate rows,
      skipping it could lose them;
    - a higher id, or any id of a stream the table has not seen (a fresh
      checkpoint, whose ids restart at 0), lands and returns the commit's
      Snapshot, whose ``added_files`` hold exactly this batch's rows
      (``added_rows`` of them).

    The gate reads ONE manifest (the current one) — O(1) per batch — and
    the commit builds on that same read. Every commit, including
    maintenance commits (merge/rollback/compaction), carries the stream
    map forward, so expiring old batch-bearing manifests cannot void the
    gate (review finds: the first version scanned all manifests per batch
    and lost the gate entirely once expiry dropped them)."""
    prev = _current(path)
    app_id = app_id or ""
    last = -1 if prev is None else prev.streams.get(app_id, -1)
    if batch_id < last:
        raise BatchRegression(
            f"stream {app_id!r} offered batch {batch_id} to {path} after "
            f"committing batch {last}")
    if batch_id == last:
        return None
    return _write(df, path, mode, prev, batch=(app_id, batch_id))


def snapshots(path: str) -> list:
    """Committed history, oldest first by NUMERIC version (expired
    versions absent)."""
    return [_load_manifest(path, v) for v in _versions(path)]


def _resolve(path: str, version: int | None = None,
             as_of_ts: float | None = None) -> Snapshot:
    """The snapshot a read pins: ``version``, else the latest committed at
    or before ``as_of_ts``, else the current one."""
    if version is not None and as_of_ts is not None:
        raise ValueError("pass version OR as_of_ts, not both")
    if as_of_ts is not None:
        eligible = [s for s in snapshots(path) if s.ts <= as_of_ts]
        if not eligible:
            raise ValueError(f"no snapshot of {path} at or before {as_of_ts}")
        return eligible[-1]
    if version is None:
        version = current_version(path)
        if version is None:
            raise ValueError(f"{path} has no committed snapshots")
    return _load_manifest(path, version)


def _read(spark: SparkSession, path: str, snap: Snapshot,
          files: list) -> DataFrame:
    """``files`` of ``snap`` as one explicit-path scan; no files reads
    typed-empty from the schema ``snap`` pins."""
    if files:
        return spark.read.parquet(*[os.path.join(path, f) for f in files])
    if snap.schema_json is None:
        raise ValueError(
            f"snapshot v{snap.version} of {path} has no files to read and "
            "pins no schema")
    from pyspark.sql.types import StructType

    return spark.createDataFrame(
        [], StructType.fromJson(json.loads(snap.schema_json)))


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    as_of_ts: float | None = None,
) -> DataFrame:
    """Read the table as of a version (time travel). Default: current.
    ``as_of_ts`` resolves to the latest snapshot committed at or before
    that timestamp."""
    snap = _resolve(path, version, as_of_ts)
    return _read(spark, path, snap, snap.files)


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
    snap = _resolve(path, version)

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
        st = snap.file_stats.get(rel, {}).get(col)
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

    return _read(spark, path, snap, [f for f in snap.files if keep(f)])


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

    File pruning reads each file's [min, max] for ``key_col`` and its row
    count from the manifest (``file_stats`` / ``file_rows``, recorded at
    commit time) and opens a footer only for a file the manifest lacks
    them for (one written under an older manifest, or a column without
    usable stats); the footer path shares ``compaction.footer_ranges`` with
    ``delete_ids`` and :func:`_stage_files` (one copy of the row-group
    statistics subtleties). Only files whose [min, max] for ``key_col``
    intersects an update key are re-read, anti-joined against the
    (broadcast) update keys — a JOIN, not a million-literal ``isin``
    expression — and rewritten together with the updates as new data
    files. NULL-keyed table rows always survive (a merge must never drop
    un-addressed rows); NULL-keyed update rows match nothing and insert as
    plain rows. Duplicate keys WITHIN the updates raise — real MERGE INTO
    rejects multiple source matches rather than silently writing duplicate
    keys.

    Update keys are collected driver-side under ``max_keys`` (the
    bounded-collect guard pattern) for the footer pruning; beyond that,
    batch the merge. On a by-key-clustered table a narrow upsert touches
    one file.

    Raises :class:`CommitConflict` under the same optimistic lock as
    every other commit; append-shape schema enforcement applies."""
    import bisect

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    snap = _current(path)
    if snap is None:
        return commit(updates, path, mode="append")
    _check_schema(snap, updates.schema.json(), path, "merge")
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

    def range_and_rows(rel):
        st = snap.file_stats.get(rel, {}).get(key_col)
        n = snap.file_rows.get(rel)
        if st is not None and n is not None:
            return (_stats_decode(st[0]), _stats_decode(st[1])), n
        md = pq.ParquetFile(os.path.join(path, rel)).metadata
        return footer_ranges(md, [key_col]).get(key_col), md.num_rows

    untouched, touched, untouched_rows = [], [], 0
    for rel in snap.files:
        rng, n = range_and_rows(rel)
        if rng is not None:
            left = bisect.bisect_left(keys, rng[0])
            if left < len(keys) and keys[left] <= rng[1]:
                touched.append(rel)
                continue
        elif keys:
            touched.append(rel)
            continue
        untouched.append(rel)
        untouched_rows += n

    to_write = updates
    if touched:
        to_write = _read(spark, path, snap, touched).join(
            F.broadcast(updates.select(key_col).distinct()
                        .where(F.col(key_col).isNotNull())),
            on=key_col, how="left_anti",
        ).unionByName(updates)
    keep = set(untouched)
    carried = replace(
        snap, files=untouched, rows=untouched_rows,
        file_stats={f: st for f, st in snap.file_stats.items() if f in keep},
        file_rows={f: n for f, n in snap.file_rows.items() if f in keep})
    return _commit(path, snap, "merge", updates.schema.json(), carried,
                   _stage_files(to_write, path, snap))


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
    nightly run costs a metadata probe. The stream map carries forward,
    so compaction never disturbs the exactly-once gate."""
    snap = _current(path)
    if snap is None or len(snap.files) <= 1:
        return None
    total = sum(os.path.getsize(os.path.join(path, f)) for f in snap.files)
    n = max(1, -(-total // (target_file_mb * 1024 * 1024)))
    if n >= len(snap.files):
        return None                  # already at/under target geometry
    df = _read(spark, path, snap, snap.files).coalesce(int(n))
    return _commit(path, snap, "compact", snap.schema_json,
                   staged=_stage_files(df, path, snap))


def rollback(path: str, version: int) -> Snapshot:
    """Commit a NEW version whose content is ``version``'s file list —
    history stays append-only (Iceberg rollback_to_snapshot). The stream
    map is carried from CURRENT, not the rollback target: a replay of a
    rolled-back batch stays a no-op (re-ingest deliberately, with fresh
    batch ids). The file list is exactly ``version``'s, so its stats and
    row counts ride along — dropping them would silently kill pruning AND
    the append-inheritance chain for the whole table (review find)."""
    old = _load_manifest(path, version)
    return _commit(path, _current(path), f"rollback-to-v{version}",
                   old.schema_json, old)


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
