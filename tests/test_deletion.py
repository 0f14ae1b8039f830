"""Targeted deletion — delete_ids (footer-pruned file-level rewrite) and
remove_docs (index purge). The write-amplification claims are asserted
directly: on a clustered table a narrow delete rewrites ONE file and the
other files' bytes are untouched; on a scattered table the same delete
rewrites many. The index purge must make a deleted doc's re-submission
survive the incremental probe (the forget-me contract)."""

import hashlib
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hypertrace_ingester_spark.operators import incremental as inc
from hypertrace_ingester_spark.sources import compaction as cpa

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata dir {SF_DIR} missing"
)


def _file_hashes(path: str) -> dict:
    out = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                continue
            p = os.path.join(root, f)
            out[p] = hashlib.md5(open(p, "rb").read()).hexdigest()
    return out


def test_delete_ids_clustered_rewrites_one_file(spark, tmp_path):
    path = str(tmp_path / "docs_clustered")
    (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .repartition(12, "text")
        .write.mode("overwrite").parquet(path)
    )
    cpa.cluster_dir(spark, path, ["doc_id"], n_files=6)
    before_pdf = spark.read.parquet(path).toPandas()
    ranges = cpa.clustering_stats(path, "doc_id")["ranges"]
    lo, hi = ranges[3]
    targets = sorted(before_pdf[
        (before_pdf["doc_id"] >= lo) & (before_pdf["doc_id"] <= hi)
    ]["doc_id"])[:3]
    assert len(targets) == 3
    before_hashes = _file_hashes(path)

    man = cpa.delete_ids(spark, path, "doc_id", targets)
    assert man["files_rewritten"] == 1          # clustering payoff
    assert man["files_pruned"] == 5
    assert man["rows_deleted"] == 3

    after_hashes = _file_hashes(path)
    untouched = set(before_hashes) & set(after_hashes)
    changed = [p for p in untouched if before_hashes[p] != after_hashes[p]]
    assert len(changed) == 1                    # only the hit file rewrote
    after_pdf = spark.read.parquet(path).toPandas()
    want = before_pdf[~before_pdf["doc_id"].isin(targets)]
    pd.testing.assert_frame_equal(
        after_pdf.sort_values("doc_id", ignore_index=True)[
            sorted(after_pdf.columns)],
        want.sort_values("doc_id", ignore_index=True)[
            sorted(want.columns)],
    )


def test_delete_ids_scattered_rewrites_many(spark, tmp_path):
    path = str(tmp_path / "docs_scatter")
    (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .repartition(6, "text")
        .write.mode("overwrite").parquet(path)
    )
    pdf = spark.read.parquet(path).toPandas()
    targets = sorted(pdf["doc_id"])[10:13]
    man = cpa.delete_ids(spark, path, "doc_id", targets)
    # scattered files all span ~the full id range: no pruning possible
    assert man["files_rewritten"] > 1
    assert man["rows_deleted"] == 3
    left = spark.read.parquet(path).toPandas()
    assert len(left) == len(pdf) - 3
    assert not set(targets) & set(left["doc_id"])


def test_delete_ids_removes_emptied_file(spark, tmp_path):
    path = str(tmp_path / "two_files")
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(10)], "doc_id long, text string")
    df.write.mode("overwrite").parquet(path)
    cpa.cluster_dir(spark, path, ["doc_id"], n_files=2)
    ranges = cpa.clustering_stats(path, "doc_id")["ranges"]
    lo, hi = ranges[0]
    victims = list(range(int(lo), int(hi) + 1))
    man = cpa.delete_ids(spark, path, "doc_id", victims)
    assert man["rows_deleted"] == len(victims)
    left = spark.read.parquet(path).toPandas()
    assert sorted(left["doc_id"]) == [
        i for i in range(10) if i not in victims]
    # the emptied file is gone, not left as a zero-row husk
    assert cpa.file_stats(path)["n_files"] == 1


def test_remove_docs_purges_index_and_forgets(spark, tmp_path):
    # synthetic corpus with pairwise-disjoint vocabularies: no doc is an
    # exact OR near dup of any other (the shared documents table plants
    # dup pairs on purpose, which would mask the purge)
    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(20))) for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").cache()
    idx_path = str(tmp_path / "idx")
    inc.build_index(docs, idx_path, prefix="del_idx", n_buckets=4)
    victims = [0, 1]
    texts = {i: rows[i][1] for i in victims}

    man = inc.remove_docs(spark, idx_path, victims, prefix="del_idx")
    t = man["tables"]
    assert t["exact"]["rows_before"] - t["exact"]["rows_after"] == 2
    assert t["sigs"]["rows_before"] - t["sigs"]["rows_after"] == 2
    assert (t["bands"]["rows_before"] - t["bands"]["rows_after"]) == 2 * 16

    # the forget-me contract: an exact re-submission of a purged doc now
    # SURVIVES the incremental probe (it is no longer "already in corpus")
    index = inc.load_index(spark, idx_path, prefix="del_idx")
    delta = spark.createDataFrame(
        [(900001, texts[victims[0]]), (900002, "completely fresh text "
                                               "never indexed before")],
        "doc_id long, text string")
    kept, m = inc.incremental_dedup(delta, index, threshold=0.5)
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert 900002 in kept_ids
    assert 900001 in kept_ids          # no longer suppressed
    assert m["exact_dups_vs_corpus"] == 0

    # a doc still in the index stays suppressed (purge was surgical)
    survivor = docs.where(~F.col("doc_id").isin(victims)).limit(1).collect()[0]
    delta2 = spark.createDataFrame(
        [(900003, survivor["text"])], "doc_id long, text string")
    kept2, m2 = inc.incremental_dedup(delta2, index, threshold=0.5)
    assert m2["exact_dups_vs_corpus"] == 1
    assert kept2.count() == 0


def test_delete_ids_never_touches_null_id_rows(spark, tmp_path):
    path = str(tmp_path / "with_nulls")
    df = spark.createDataFrame(
        [(1, "a"), (None, "keep me"), (2, "b"), (None, "me too"), (3, "c")],
        "doc_id long, text string")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    man = cpa.delete_ids(spark, path, "doc_id", [2])
    # NOT-IN is three-valued: the anti-filter must keep NULL ids explicitly
    assert man["rows_deleted"] == 1
    left = spark.read.parquet(path).toPandas()
    assert len(left) == 4
    assert left["doc_id"].isna().sum() == 2
    assert set(left["text"]) == {"a", "keep me", "me too", "c"}


def test_delete_ids_key_not_shadowed_by_struct_leaf(spark, tmp_path):
    """For a schema {doc_id, s: struct<doc_id>} the file pruner reads the
    footer stats of the TOP-LEVEL id: the struct leaf, also named
    'doc_id', holds values far outside the id range, and pruning on it
    would skip the file and leave the requested rows undeleted."""
    path = str(tmp_path / "shadowed")
    spark.range(0, 50).selectExpr(
        "id as doc_id", "named_struct('doc_id', id + 100000) as s"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    man = cpa.delete_ids(spark, path, "doc_id", [3, 4])
    assert man["files_rewritten"] == 1 and man["rows_deleted"] == 2
    left = {r["doc_id"] for r in spark.read.parquet(path).collect()}
    assert left == set(range(50)) - {3, 4}


def test_delete_ids_raises_on_missing_column(spark, tmp_path):
    path = str(tmp_path / "no_such_col")
    spark.createDataFrame([(1, "x")], "doc_id long, text string") \
        .write.mode("overwrite").parquet(path)
    with pytest.raises(ValueError, match="no data file"):
        cpa.delete_ids(spark, path, "document_id", [1])


def test_remove_docs_never_touches_null_id_rows(spark, tmp_path):
    """Same three-valued NOT-IN contract as delete_ids, on the index purge
    path (review find): ~isin(ids) is NULL for NULL doc_ids, and a purge
    must never delete un-requested rows."""
    rows = [(i, " ".join(f"n{i}y{j}" for j in range(20))) for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    null_doc = spark.createDataFrame(
        [(None, "null keyed row that must survive the purge")],
        "doc_id long, text string")
    idx_path = str(tmp_path / "idx_nulls")
    inc.build_index(docs.unionByName(null_doc), idx_path,
                    prefix="nul_idx", n_buckets=2)
    man = inc.remove_docs(spark, idx_path, [0], prefix="nul_idx")
    t = man["tables"]
    # exactly doc 0's rows left each table — the NULL-keyed rows stayed
    assert t["exact"]["rows_before"] - t["exact"]["rows_after"] == 1
    idx = inc.load_index(spark, idx_path, prefix="nul_idx")
    exact = idx["exact"].toPandas()
    assert exact["doc_id"].isna().sum() >= 1
