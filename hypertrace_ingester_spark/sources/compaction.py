"""Small-file compaction — the maintenance pass every appended layout needs.

Every append-shaped writer in the repo multiplies files: the streaming
curation sink appends one file set per micro-batch
(streaming/curation.py), `build_index(mode='append')` adds a file per
(task, bucket) per delta (operators/incremental.py), and the daily-crawl
flow appends corpus survivors each day (plans/curation.py). At 100 TB
scale a year of daily appends turns every scan into a listing storm and
every bucketed read into thousands of tiny-file opens per bucket — table
formats ship a maintenance pass for exactly this (Iceberg
`rewrite_data_files`, Delta `OPTIMIZE`; the reference ingester compacts
its RocksDB span store the same way via background compaction,
RawSpansProcessor's store config). This module is the parquet-native
analog, with the two layouts the repo writes:

- **Bucketed tables** (`compact_bucketed_table`): read the bucketed scan
  (one input partition per bucket, all of that bucket's files), rewrite
  with the SAME bucketBy spec. The scan's reported partitioning already
  satisfies the write's required distribution, so the rewrite is
  ZERO-Exchange (plan-asserted in tests/test_compaction.py) — one
  read+write pass, no shuffle, and each bucket lands as one file.
- **Plain / hive-partitioned dirs** (`compact_dir`): size-targeted
  `coalesce` rewrite per leaf directory — coalesce, not repartition, so
  compaction itself never shuffles; input files are write-sized and
  near-uniform, so coalesce skew is bounded by the target size.

Both — and `cluster_dir` and `incremental.remove_docs` — rewrite through
ONE helper, `_rewrite`: write to a hidden temp sibling, then atomically
swap directories, so a crashed rewrite leaves the original layout
untouched and readers never see a half-written table (the same
idempotence contract as the streaming sink's per-batch overwrite). On an
object store the "rename" is the table-format metadata swap; the seam is
`_rewrite`'s `_swap_dirs`. Every directory walk here goes through
`data_files`, and every footer [min, max] through `footer_ranges`.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from . import bucketing

DEFAULT_TARGET_MB = 256


def data_files(path: str):
    """Every data file under ``path`` (full paths; walk order, names
    sorted within a directory). `_`-prefixed bookkeeping (``_SUCCESS``,
    ``_index_meta.json``, ``_snapshots/``) and hidden files and
    directories are skipped, matching Spark's own data-file filter — THE
    one copy of that rule for every walk in this module and
    ``incremental``."""
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                yield os.path.join(root, f)


def parquet_files(path: str) -> list[str]:
    """The ``.parquet`` files among :func:`data_files`."""
    return [f for f in data_files(path) if f.endswith(".parquet")]


def file_stats(path: str) -> dict:
    """Recursive data-file census of ``path``: count, bytes, min/max size.

    Driver-side metadata listing only (the same cost every planner listing
    pays) over :func:`data_files`.
    """
    sizes = [os.path.getsize(f) for f in data_files(path)]
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "min_bytes": min(sizes, default=0),
        "max_bytes": max(sizes, default=0),
    }


def _leaf_partition_dirs(path: str) -> list[str]:
    """Leaf directories holding data files: ``path`` itself for a flat
    layout, else every ``key=value`` leaf of a hive-partitioned tree."""
    return list(dict.fromkeys(map(os.path.dirname, data_files(path)))) or [path]


def _hidden_sibling(path: str, tag: str) -> str:
    """A normal-named leaf under a dot-prefixed sibling dir
    (``<parent>/.<tag>/<name>``): invisible to Spark's data-file listing of
    ``<parent>`` (hive-partition readers of the root never see it), to
    :func:`file_stats`, and to :func:`_leaf_partition_dirs`, so a
    crash-left temp or old directory never pollutes reads or
    re-compaction. The LEAF name stays undotted because Spark's file index
    filters a dot-prefixed root path itself ("All paths were ignored") —
    only ancestors may hide."""
    d, b = os.path.split(os.path.abspath(path))
    hidden_dir = os.path.join(d, f".{tag}")
    os.makedirs(hidden_dir, exist_ok=True)
    return os.path.join(hidden_dir, b)


def _swap_dirs(path: str, tmp_path: str) -> None:
    """Atomically replace ``path`` with ``tmp_path`` (rename-swap; the old
    data survives at a hidden sibling until the swap completes, then drops)."""
    old = _hidden_sibling(path, "compact-old")
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(tmp_path, path)
    shutil.rmtree(old)


def _rewrite(df: DataFrame, path: str, bucket_spec: tuple | None = None) -> None:
    """Replace the directory ``path`` with ``df``'s rows — THE
    rewrite-and-swap of every maintenance pass: write into a hidden temp
    sibling, then :func:`_swap_dirs` it in (a crash before the swap leaves
    ``path`` untouched). Plain parquet with 4 MB pages by default.

    ``bucket_spec`` = ``(table, schema_ddl, bucket_cols, n_buckets,
    sort_cols)`` of the EXTERNAL bucketed table at ``path``: the rewrite
    keeps that ``bucketBy`` spec and re-registers ``table`` over the
    swapped directory. Pass ``df`` as that table's bucketed scan (narrow
    transforms such as a Filter keep its reported partitioning): the write
    forces the bucket-aligned scan — ``autoBucketedScan`` may otherwise
    plan a plain file-split read (no downstream operator needs the
    distribution), and a task holding a file split rather than a whole
    bucket writes one file per (task, bucket) again, exactly the
    fragmentation being repaired. With the aligned scan each task IS one
    bucket and emits exactly one file, and the planner drops the Exchange
    the write would otherwise require."""
    tmp = _hidden_sibling(path, "rewrite-tmp")
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    if bucket_spec is None:
        df.write.mode("overwrite").option(
            "parquet.page.size", str(4 * 1024 * 1024)).parquet(tmp)
        _swap_dirs(path, tmp)
        return
    spark = df.sparkSession
    table, schema_ddl, bucket_cols, n_buckets, sort_cols = bucket_spec
    auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev_auto = spark.conf.get(auto_key, "true")
    spark.conf.set(auto_key, "false")
    try:
        bucketing.write_bucketed(
            df, f"{table}_rewrite_tmp", bucket_cols, n_buckets,
            sort_cols=sort_cols, mode="overwrite", path=tmp,
        )
    finally:
        spark.conf.set(auto_key, prev_auto)
    spark.sql(f"DROP TABLE IF EXISTS {table}_rewrite_tmp")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    _swap_dirs(path, tmp)
    bucketing.ensure_bucketed_table(
        spark, table, path, schema_ddl, bucket_cols, n_buckets, sort_cols
    )


def compact_dir(
    spark: SparkSession,
    path: str,
    target_mb: int = DEFAULT_TARGET_MB,
    min_files: int = 2,
) -> dict:
    """Compact a plain or hive-partitioned parquet directory in place.

    Each leaf partition directory is rewritten to
    ``ceil(leaf_bytes / target_mb)`` files via ``coalesce`` (never a
    shuffle); leaves already at ``min_files`` or fewer are skipped, so a
    nightly run over an already-compact table is a metadata no-op. Hive
    partition values live in the directory name, so per-leaf rewrites
    preserve the partition column on re-read. Returns a before/after
    manifest (the curation-manifest idiom)."""
    before = file_stats(path)
    compacted_leaves = 0
    for leaf in _leaf_partition_dirs(path):
        stats = file_stats(leaf)
        if stats["n_files"] <= min_files:
            continue
        n_out = max(1, math.ceil(stats["total_bytes"] / (target_mb * 1024 * 1024)))
        if n_out >= stats["n_files"]:
            continue
        _rewrite(spark.read.parquet(leaf).coalesce(n_out), leaf)
        compacted_leaves += 1
    return {
        "path": path,
        "leaves_compacted": compacted_leaves,
        "files_before": before["n_files"],
        "files_after": file_stats(path)["n_files"],
        "bytes": before["total_bytes"],
    }


def compact_bucketed_table(
    spark: SparkSession,
    table: str,
    path: str,
    schema_ddl: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> dict:
    """Zero-Exchange compaction of an EXTERNAL bucketed table.

    Reads the bucketed scan (its reported partitioning is the bucket
    hash) and rewrites it with the identical ``bucketBy`` spec through
    :func:`_rewrite` — the planner drops the Exchange the write would
    otherwise require, so the whole pass is scan → sort-within-bucket →
    write — which rename-swaps the data directory and re-registers the
    table. After N appends a bucket holds N×tasks files; after compaction
    it holds one. Layout metadata (catalog DDL, ``ensure_bucketed_table``
    validation) is unchanged, so downstream zero-Exchange joins keep
    their plans."""
    spec = (table, schema_ddl, bucket_cols, n_buckets, sort_cols)
    src = bucketing.ensure_bucketed_table(spark, table, path, *spec[1:])
    before = file_stats(path)
    _rewrite(src, path, spec)
    return {
        "table": table,
        "files_before": before["n_files"],
        "files_after": file_stats(path)["n_files"],
        "bytes": before["total_bytes"],
    }


def compact_index(spark: SparkSession, path: str, prefix: str = "corpus_index") -> dict:
    """Compact the three incremental-dedup index tables
    (operators/incremental.py) after a run of daily appends — the
    maintenance half of the daily-crawl flow. Geometry comes from the
    index's own persisted meta, never the caller."""
    from ..operators import incremental as inc

    idx = inc.load_index(spark, path, prefix=prefix)
    meta = idx.get("_meta") or {}
    n_buckets = meta.get("n_buckets", inc.INDEX_BUCKETS)
    out = {}
    for name, (ddl, cols) in inc.INDEX_SPECS.items():
        out[name] = compact_bucketed_table(
            spark, f"{prefix}_{name}", f"{path}/{name}", ddl, cols, n_buckets
        )
    return out


# ---------------------------------------------------------------------------
# Sort-clustered rewrite — the OPTIMIZE ... ZORDER BY analog. Compaction
# fixes file COUNT; clustering fixes file CONTENT: rewriting each leaf in
# cluster-key order makes per-file (and per-row-group) parquet min/max
# footers tight and disjoint, so any stats-aware reader — Spark's parquet
# scan with pushed filters, DuckDB, Trino — skips everything outside a
# key predicate's range. At 100 TB this is the difference between a
# point/range query touching one file and touching all of them.
# ---------------------------------------------------------------------------


def z_value(cols, bits: int = 16):
    """Morton/Z-order value: interleave the low ``bits`` bits of each
    non-negative integer column — the multi-dimensional cluster key
    (Z-ORDER proper; a lexicographic sort clusters only its leading
    column). Pure shift/mask column math, whole-stage codegen'd; callers
    quantize real-valued or unbounded columns into [0, 2^bits) first
    (e.g. ``quantize``). Out-of-range inputs CLAMP to the boundary bucket
    (monotone, locality-preserving) rather than silently interleaving
    their high/sign bits into collisions with in-range keys (review
    find); NULL inputs yield a NULL z (they range-partition first, as a
    plain sort key would). bits × n_cols must fit a long (≤ 63)."""
    from pyspark.sql import functions as F

    n = len(cols)
    if bits * n > 63:
        raise ValueError(f"z_value needs bits*cols <= 63, got {bits}*{n}")
    top = (1 << bits) - 1
    out = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            c = F.col(c) if isinstance(c, str) else c
            clamped = F.greatest(
                F.lit(0).cast("long"),
                F.least(F.lit(top).cast("long"), c.cast("long")),
            )
            # greatest/least SKIP nulls; restore null propagation so a
            # null coordinate gives a null z, never a fake max position
            clamped = F.when(c.isNull(), F.lit(None)).otherwise(clamped)
            bit = F.shiftright(clamped, b).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, b * n + i))
    return out


def quantize(col, lo: float, hi: float, bits: int = 16):
    """Map [lo, hi] linearly onto [0, 2^bits) for ``z_value`` (clamped).
    NULL stays NULL — Spark's greatest/least skip nulls, which would
    otherwise silently quantize null rows to the TOP bucket (review
    find)."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    top = (1 << bits) - 1
    scaled = F.floor(
        (c.cast("double") - F.lit(float(lo)))
        / F.lit((hi - lo) or 1.0) * F.lit(float(top + 1))
    ).cast("long")
    clamped = F.greatest(F.lit(0), F.least(F.lit(top), scaled))
    return F.when(c.isNull(), F.lit(None)).otherwise(clamped)


def cluster_dir(
    spark: SparkSession,
    path: str,
    cluster_by,
    target_mb: int = DEFAULT_TARGET_MB,
    n_files: int | None = None,
) -> dict:
    """Rewrite a plain or hive-partitioned parquet directory in cluster-key
    order, per leaf: ``repartitionByRange(n, keys)`` (the distributed range
    sort — one sampled shuffle, the price OPTIMIZE ZORDER pays too) →
    ``sortWithinPartitions`` → atomic rename-swap (crash-safe, same
    contract as :func:`compact_dir`). ``cluster_by`` is a list of column
    names or Column expressions (pass ``[z_value([...])]`` for
    multi-dimensional clustering). Also compacts as it goes (file count
    from ``target_mb``). Returns a manifest with before/after
    :func:`clustering_stats` overlap counts for the first key when it is a
    plain column."""
    from pyspark.sql import functions as F

    keys = [F.col(c) if isinstance(c, str) else c for c in cluster_by]
    stat_col = cluster_by[0] if isinstance(cluster_by[0], str) else None

    def _overlap_sum() -> int:
        # audit PER LEAF: leaves of a hive tree legitimately span the same
        # key range (clustering is within-partition), so a whole-tree
        # clustering_stats would count cross-leaf pairs and report failure
        # on a perfectly clustered table (review find)
        return sum(
            clustering_stats(leaf, stat_col)["overlapping_pairs"]
            for leaf in _leaf_partition_dirs(path)
        )

    before_files = file_stats(path)["n_files"]
    before_overlap = _overlap_sum() if stat_col else None
    for leaf in _leaf_partition_dirs(path):
        stats = file_stats(leaf)
        if stats["n_files"] == 0:
            continue
        n_out = n_files or max(
            1, math.ceil(stats["total_bytes"] / (target_mb * 1024 * 1024))
        )
        _rewrite(spark.read.parquet(leaf).repartitionByRange(n_out, *keys)
                 .sortWithinPartitions(*keys), leaf)
    out = {
        "path": path,
        "files_before": before_files,
        "files_after": file_stats(path)["n_files"],
    }
    if stat_col:
        out["overlapping_pairs_before"] = before_overlap
        out["overlapping_pairs_after"] = _overlap_sum()
    return out


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


def footer_ranges(md, cols) -> dict:
    """{col: whole-file (min, max)} from the parquet footer ``md``'s
    row-group statistics, for each of ``cols`` that is a top-level column
    of the file (others are absent from the result); a column maps to None
    when ANY row group lacks usable stats (the caller must then treat the
    file as a candidate). ONE copy of the statistics subtleties (missing
    stats, NULL-only groups, nested leaves shadowing a top-level name),
    shared by ``delete_ids`` and ``snapshots``' commit stats and
    ``merge_upsert`` so fixes cannot drift between the pruners (review
    find)."""
    idx = _top_level_column_index(md)
    out = {}
    for col in cols:
        if col not in idx:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                lo = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        out[col] = None if lo is None else (lo, hi)
    return out


def clustering_stats(path: str, column: str) -> dict:
    """Per-file parquet footer [min, max] ranges for ``column`` and how
    clustered they are: ``overlapping_pairs`` counts file pairs whose
    ranges intersect (0 = perfectly clustered — any stats-aware scan
    touches at most one file per point predicate), and
    ``max_files_for_point`` is the worst-case number of files a point
    lookup must read. Driver-side footer metadata only — the same cost as
    a planner listing; no data pages are read."""
    import pyarrow.parquet as pq

    ranges = []
    for fpath in parquet_files(path):
        md = pq.ParquetFile(fpath).metadata
        idx = _top_level_column_index(md)
        if column not in idx:
            continue
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[column]).statistics
            if st is None or not st.has_min_max:
                continue
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            ranges.append((lo, hi, os.path.basename(fpath)))
    ranges.sort()
    overlaps = 0
    for i in range(len(ranges)):
        for j in range(i + 1, len(ranges)):
            if ranges[j][0] > ranges[i][1]:
                break  # sorted by min: no later file can overlap i either
            overlaps += 1
    # worst-case point fan-out: how many ranges contain some single value —
    # bounded by scanning range endpoints
    max_point = 0
    for lo, hi, _ in ranges:
        covering = sum(1 for l2, h2, _ in ranges if l2 <= lo <= h2)
        max_point = max(max_point, covering)
    return {
        "n_files": len(ranges),
        "overlapping_pairs": overlaps,
        "max_files_for_point": max_point,
        "ranges": [(lo, hi) for lo, hi, _ in ranges],
    }


# ---------------------------------------------------------------------------
# Targeted row deletion — the DELETE/right-to-be-forgotten maintenance pass
# (Iceberg DELETE FROM / Delta delete-vector analog). A deletion request is
# a bounded id list; rewriting 100 TB for 1k doc ids is absurd, so the pass
# prunes at FILE granularity with the same parquet min/max footers the
# clustered layout keeps tight: only files whose id range can contain a
# target are rewritten (and replaced atomically, one by one). On a
# cluster_dir'd table a narrow id range touches one file — clustering is
# what makes deletes cheap.
# ---------------------------------------------------------------------------


def delete_ids(
    spark: SparkSession,
    path: str,
    id_col: str,
    ids,
) -> dict:
    """Delete every row whose ``id_col`` is in ``ids`` from a plain or
    hive-partitioned parquet directory, in place.

    Per data file: the footer's [min, max] for ``id_col`` is checked
    against the sorted id list (driver-side metadata only); files that
    cannot contain a target are NEVER read or rewritten — their bytes are
    untouched, which the tests assert. A candidate file is re-read with
    the anti-filter, written to a hidden temp, and atomically
    ``os.replace``d over the original (readers see the old or the new
    file, never a half-write; a crash leaves the original). Row counts
    come from footers (free), so the manifest reports exact
    ``rows_deleted`` without a counting job.

    Deletion requests are bounded (takedowns, opt-outs, eval-set purges),
    so ``ids`` is a driver-held list; the filter compiles to a codegen'd
    ``NOT IN`` over the per-file candidate subset. Pair with
    :func:`cluster_dir`: on a clustered table a contiguous id range lands
    in one file (write amplification 1), on a scattered table the same
    delete rewrites every file — the manifest's ``files_rewritten`` makes
    the difference visible."""
    import bisect

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    ids_sorted = sorted(set(ids))
    files_scanned = 0
    files_rewritten = 0
    rows_deleted = 0
    for fpath in parquet_files(path):
        md = pq.ParquetFile(fpath).metadata
        rng = footer_ranges(md, [id_col])
        if id_col not in rng:
            continue
        files_scanned += 1
        n_rows = md.num_rows
        if rng[id_col] is not None:
            lo, hi = rng[id_col]
            # any target inside [lo, hi]? (sorted ids, binary search)
            left = bisect.bisect_left(ids_sorted, lo)
            if left >= len(ids_sorted) or ids_sorted[left] > hi:
                continue  # pruned: file untouched, never read
            cand = ids_sorted[left:bisect.bisect_right(ids_sorted, hi)]
        else:
            cand = ids_sorted  # no stats: must check everything
        tmp = _hidden_sibling(fpath, "delete-tmp")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        (
            spark.read.parquet(fpath)
            # NOT-IN is three-valued: NULL ids would evaluate to NULL
            # and be dropped by WHERE — keep them explicitly (review
            # find: a takedown must never delete un-requested rows)
            .filter(
                F.col(id_col).isNull() | ~F.col(id_col).isin(list(cand))
            )
            .coalesce(1)
            .write.mode("overwrite")
            .option("parquet.page.size", str(4 * 1024 * 1024))
            .parquet(tmp)
        )
        parts = parquet_files(tmp)
        new_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
        rows_deleted += n_rows - new_rows
        # the local Hadoop FS keeps a `.<name>.crc` sidecar per file;
        # replacing the parquet bytes under the old name would leave a
        # stale checksum and poison every future read — drop it
        root, fname = os.path.split(fpath)
        crc = os.path.join(root, f".{fname}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        if parts and new_rows > 0:
            os.replace(parts[0], fpath)
        else:  # everything in the file was deleted: no 0-row husk
            os.remove(fpath)
        shutil.rmtree(tmp, ignore_errors=True)
        files_rewritten += 1
    if files_scanned == 0:
        # a compliance delete must never silently no-op: the id column is
        # not a data-file column here (hive partition key? typo?)
        raise ValueError(
            f"delete_ids: no data file under {path} carries column "
            f"{id_col!r} — nothing was checked, nothing was deleted"
        )
    return {
        "path": path,
        "files_scanned": files_scanned,
        "files_rewritten": files_rewritten,
        "files_pruned": files_scanned - files_rewritten,
        "rows_deleted": rows_deleted,
    }
