"""Incremental corpus maintenance — dedup a new crawl DELTA against a
persisted corpus INDEX, never against the corpus text.

At 10^12-document scale a corpus is not rebuilt per crawl: each new delta
(today's crawl, the next dump) must be deduped against everything already
kept WITHOUT re-reading or re-shuffling the 100 TB of kept text. The
industry-standard shape (CCNet/RefinedWeb-style rolling dedup) is a narrow
persisted index:

  exact/  (text_hash, doc_id)         — one md5 per kept doc
  bands/  (band_hash, doc_id)         — ``bands`` LSH band hashes per doc
  sigs/   (doc_id, minhash)           — the 64-long MinHash signature

≈0.6 KB per doc vs multi-KB of text, i.e. the index for a 100 TB corpus is
~100s of GB — scannable per delta. All three tables are written BUCKETED
(sources/bucketing.py) on their join key, so every delta-vs-corpus join
shuffles ONLY the delta: the corpus side reads its bucket layout with zero
Exchange (plan-asserted in tests/test_incremental.py). Near-duplicate
verification uses the signature-agreement Jaccard estimate
(E[matching positions / num_perm] = J, Broder 1997) — exact-shingle
verification would need corpus text, which is exactly what the index
exists to avoid; the estimate's resolution is 1/num_perm.

Band hashes are salted with their band index inside the hash
(dedup.band_hash_array), so ``band_hash`` alone is the join key — a
single-column bucket layout can satisfy it.

Reference parity: the reference's RawSpansProcessor keeps a RocksDB
span store keyed by (tenant, trace) to dedup late arrivals against
already-grouped state (RawSpansProcessor.java:186-247); this module is
that idea at corpus scale — persisted narrow state, delta probes it,
survivors append back. Driver-mandate territory (training-data ops).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import bucketing
from . import dedup as dd

INDEX_BUCKETS = 32

# the single definition of the three index tables' (DDL, bucket cols) —
# shared by load_index / remove_docs / sources.compaction.compact_index so
# a schema or bucket-key change cannot drift between them (review find)
INDEX_SPECS = {
    "exact": ("text_hash string, doc_id string", ["text_hash"]),
    "bands": ("band_hash bigint, doc_id string", ["band_hash"]),
    "sigs": ("doc_id string, minhash array<bigint>", ["doc_id"]),
}

_META_FILE = "_index_meta.json"


def doc_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = dd.MINHASH_PERMS,
) -> DataFrame:
    """(doc_id, text_hash, minhash) — the narrow per-doc index rows.

    ``minhash`` is NULL for docs too short to shingle (they can never be a
    near-dup candidate; exact dedup still covers them). ``doc_id`` is cast
    to string so the persisted index schema matches ``load_index``'s
    declared DDL whatever the caller's id type — the corpus-side id is
    only ever joined against itself (bands → sigs), never back against
    delta ids."""
    base = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.md5(F.col(text_col)).alias("text_hash"),
    )
    sigs = dd.minhash_signature(docs, text_col, num_perm=num_perm, id_col=id_col)
    return base.join(
        sigs.select(F.col(id_col).cast("string").alias("doc_id"), "minhash"),
        "doc_id", "left",
    )


def _tables(prefix: str) -> dict[str, str]:
    return {
        "exact": f"{prefix}_exact",
        "bands": f"{prefix}_bands",
        "sigs": f"{prefix}_sigs",
    }


def build_index(
    docs: DataFrame,
    path: str,
    prefix: str = "corpus_index",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = dd.MINHASH_PERMS,
    bands: int = dd.LSH_BANDS,
    n_buckets: int = INDEX_BUCKETS,
    mode: str = "overwrite",
) -> dict:
    """Materialize the three index tables under ``path``, bucketed on their
    join keys. ``mode='append'`` adds a delta's survivors to an existing
    index (Spark appends new per-bucket files; readers union them, the
    declared layout is unchanged)."""
    meta_path = os.path.join(path, _META_FILE)
    if mode == "append" and os.path.exists(meta_path):
        # the hash geometry is a property of the INDEX, not the call: an
        # append under different parameters would silently mix signature
        # spaces (wrong Jaccard estimates forever after) — refuse instead
        with open(meta_path) as fh:
            prev = json.load(fh)
        if (prev["num_perm"], prev["bands"], prev["n_buckets"]) != (
            num_perm, bands, n_buckets
        ):
            raise ValueError(
                f"index at {path} was built with num_perm={prev['num_perm']} "
                f"bands={prev['bands']} n_buckets={prev['n_buckets']}; "
                f"append called with ({num_perm}, {bands}, {n_buckets})"
            )
    idx = doc_index(docs, text_col, id_col, num_perm).localCheckpoint(eager=False)
    t = _tables(prefix)
    bucketing.write_bucketed(
        idx.select("text_hash", "doc_id"),
        t["exact"], ["text_hash"], n_buckets, mode=mode, path=f"{path}/exact",
    )
    banded = (
        idx.where(F.col("minhash").isNotNull())
        .select(
            "doc_id",
            F.explode(dd.band_hash_array(bands, num_perm)).alias("band_hash"),
        )
        .select("band_hash", "doc_id")
    )
    bucketing.write_bucketed(
        banded, t["bands"], ["band_hash"], n_buckets, mode=mode, path=f"{path}/bands",
    )
    bucketing.write_bucketed(
        idx.where(F.col("minhash").isNotNull()).select("doc_id", "minhash"),
        t["sigs"], ["doc_id"], n_buckets, mode=mode, path=f"{path}/sigs",
    )
    n = idx.count()
    meta = {"docs_indexed": n, "path": path, "prefix": prefix,
            "num_perm": num_perm, "bands": bands, "n_buckets": n_buckets}
    os.makedirs(path, exist_ok=True)
    with open(meta_path, "w") as fh:
        json.dump({k: meta[k] for k in
                   ("num_perm", "bands", "n_buckets", "prefix")}, fh)
    return meta


def load_index(
    spark: SparkSession,
    path: str,
    prefix: str = "corpus_index",
    n_buckets: int = INDEX_BUCKETS,
) -> dict[str, DataFrame]:
    """(Re-)register the three external bucketed tables (a NEW session's
    in-memory catalog has no layout metadata — sources/bucketing.py) and
    return them. The scans report their bucket layout as output
    partitioning, so delta-vs-index joins shuffle only the delta.

    The persisted ``_index_meta.json`` (written by ``build_index``)
    overrides ``n_buckets`` and rides along under ``"_meta"`` so probes
    (``incremental_dedup``) inherit the geometry the index was BUILT
    with instead of trusting the caller to repeat it."""
    meta = None
    meta_path = os.path.join(path, _META_FILE)
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        n_buckets = meta["n_buckets"]
    t = _tables(prefix)
    out = {"_meta": meta} if meta else {}
    return out | {
        name: bucketing.ensure_bucketed_table(
            spark, t[name], f"{path}/{name}", ddl, cols, n_buckets
        )
        for name, (ddl, cols) in INDEX_SPECS.items()
    }


def signature_est_jaccard(sig_a, sig_b, num_perm: int = dd.MINHASH_PERMS):
    """MinHash Jaccard estimate: fraction of agreeing signature positions
    (Broder 1997). Pure column math — zip_with + aggregate, JVM codegen."""
    matches = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return matches.cast("double") / F.lit(float(num_perm))


def incremental_dedup(
    delta: DataFrame,
    index: dict[str, DataFrame],
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int | None = None,
    bands: int | None = None,
) -> tuple[DataFrame, dict]:
    """Dedup ``delta`` against a loaded corpus index. Three stages, each
    shuffling only delta-sized frames:

    1. within-delta exact dedup — keep the min doc_id per content hash
       (one delta shuffle, map-side combine);
    2. exact-vs-corpus — LEFT ANTI join of delta hashes against the
       ``exact`` table (corpus side: bucketed scan, no Exchange);
    3. near-vs-corpus — delta band hashes probe the ``bands`` table
       (corpus side: bucketed scan), candidates join the ``sigs`` table for
       the signature-agreement estimate; delta docs whose best estimate
       ≥ threshold are dropped.

    Within-delta NEAR-dup is deliberately out of scope — compose
    ``dedup.minhash_near_dups`` + ``keep_canonical`` on the delta first if
    the delta itself is dirty; this operator owns the delta-vs-corpus
    relation only.

    ``num_perm``/``bands`` default to the geometry the index was built
    with (its persisted meta, via ``load_index``); pass them only for an
    index with no meta file.

    Returns (kept delta rows — original columns — , manifest counts)."""
    meta = index.get("_meta") or {}
    num_perm = num_perm or meta.get("num_perm", dd.MINHASH_PERMS)
    bands = bands or meta.get("bands", dd.LSH_BANDS)
    n_delta = delta.count()
    hashed = delta.withColumn("_th", F.md5(F.col(text_col)))

    # 1) within-delta exact (keep min id per hash; same plan as
    # dd.exact_dedup but generic in id_col)
    keep = hashed.groupBy("_th").agg(F.min(id_col).alias(id_col))
    step1 = hashed.join(keep, ["_th", id_col]).localCheckpoint(eager=False)
    n1 = step1.count()

    # 2) exact vs corpus (anti-join; corpus side reads its bucket layout)
    step2 = step1.join(
        index["exact"].select(F.col("text_hash").alias("_th")), "_th",
        "left_anti",
    ).localCheckpoint(eager=False)
    n2 = step2.count()

    # 3) near-dup vs corpus via the signature index
    delta_sigs = dd.minhash_signature(
        step2, text_col, num_perm=num_perm, id_col=id_col
    ).localCheckpoint(eager=False)  # narrow (id, 64 longs); reused twice
    delta_bands = delta_sigs.select(
        F.col(id_col),
        F.explode(dd.band_hash_array(bands, num_perm)).alias("band_hash"),
    )
    candidates = (
        delta_bands.join(
            index["bands"].withColumnRenamed("doc_id", "_corpus_id"),
            "band_hash")
        .select(F.col(id_col), F.col("_corpus_id"))
        .distinct()
    )
    near_dup_ids = (
        candidates
        .join(index["sigs"].withColumnRenamed("doc_id", "_corpus_id")
              .withColumnRenamed("minhash", "_corpus_sig"), "_corpus_id")
        .join(delta_sigs.withColumnRenamed("minhash", "_delta_sig"), id_col)
        .where(signature_est_jaccard(
            F.col("_delta_sig"), F.col("_corpus_sig"), num_perm)
            >= F.lit(threshold))
        .select(id_col)
        .distinct()
    )
    kept = step2.join(near_dup_ids, id_col, "left_anti").drop("_th")
    n3 = kept.count()
    manifest = {
        "delta_rows": n_delta,
        "exact_dups_within_delta": n_delta - n1,
        "exact_dups_vs_corpus": n1 - n2,
        "near_dups_vs_corpus": n2 - n3,
        "kept": n3,
    }
    return kept, manifest


def _dir_rows(path: str) -> int:
    """Exact row count from parquet footers — metadata only, no job."""
    import pyarrow.parquet as pq

    from ..sources.compaction import data_files

    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in data_files(path) if f.endswith(".parquet"))


def remove_docs(
    spark: SparkSession,
    path: str,
    doc_ids,
    prefix: str = "corpus_index",
) -> dict:
    """Right-to-be-forgotten maintenance for the dedup index: purge every
    index row belonging to ``doc_ids`` from all three tables — after a
    takedown the corpus must not only drop the documents
    (``sources.compaction.delete_ids`` on the corpus files) but also stop
    remembering their hashes, or tomorrow's delta would still dedup
    against deleted content and silently re-suppress a legitimate
    re-submission.

    Layout-preserving: each table's bucketed scan is anti-filtered against
    the broadcast id list (a Filter never disturbs the scan's reported
    partitioning) and rewritten through ``compaction._rewrite`` — the
    ``compact_bucketed_table`` path: bucket-aligned scan (one task = one
    whole bucket), IDENTICAL bucketBy spec, zero Exchange, then
    rename-swapped (crash leaves the original). Row counts in the manifest
    come from parquet footers, not count jobs.

    Deletion requests are bounded, so ``doc_ids`` is a driver-held list
    (the ids are matched as strings — the index's storage type)."""
    from ..sources import compaction as cpa

    idx = load_index(spark, path, prefix=prefix)
    n_buckets = (idx.get("_meta") or {}).get("n_buckets", INDEX_BUCKETS)
    ids = [str(i) for i in doc_ids]
    out: dict = {"path": path, "tables": {}}
    for name, (ddl, cols) in INDEX_SPECS.items():
        tpath = f"{path}/{name}"
        before = _dir_rows(tpath)
        # three-valued NOT IN is NULL for NULL doc_ids — keep NULL-keyed
        # rows explicitly (a takedown must never delete un-requested rows;
        # matches delete_ids)
        kept = idx[name].filter(F.col("doc_id").isNull() | ~F.col("doc_id").isin(ids))
        cpa._rewrite(kept, tpath, (f"{prefix}_{name}", ddl, cols, n_buckets, None))
        out["tables"][name] = {"rows_before": before, "rows_after": _dir_rows(tpath)}
    return out
