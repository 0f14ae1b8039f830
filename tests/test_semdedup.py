"""SemDeDup (Abbas et al. 2023) — composition of the verified blocks
(fit_centroids / ivf_assign / embedding_near_dups / duplicate_clusters)
plus the paper's keep-rule: per duplicate group, the exemplar with the
LOWEST cosine to its cluster centroid survives (tie → min id)."""

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from hypertrace_ingester_spark.operators import similarity as sim

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata dir {SF_DIR} missing"
)


def test_keep_rule_lowest_centroid_similarity(spark):
    # two fixed cells; a and b are near-dups in cell 0, a sits CLOSER to the
    # centroid, so the paper's rule keeps b (NOT the min id); c is alone.
    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.1]), (2, [1.0, 0.2]), (3, [0.05, 1.0])],
        "vec_id bigint, embedding array<float>",
    )
    out = sim.semdedup(vecs, dim=2, n_cells=2, threshold=0.95, centroids=cents)
    rows = {r["vec_id"]: r for r in out.collect()}
    assert set(rows) == {2, 3}
    assert rows[2]["semdedup_cluster"] == 1  # min id of the {1,2} group
    assert rows[3]["semdedup_cluster"] is None  # no duplicate partner
    assert 0.94 < rows[2]["cent_sim"] < 1.0


def test_planted_scaled_copies_removed(spark):
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    dim = len(emb.select("embedding").first()[0])
    n = emb.count()
    # positive scaling is cosine-invariant: each copy is an exact semantic
    # dup (cos = 1.0) of its original, landing in the same cell by identity
    # of all cosines; cent_sim ties bitwise (×2 is exact in IEEE), so the
    # min-id tie-break keeps the ORIGINAL.
    copies = emb.where("vec_id % 4 = 1").select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias(
            "embedding"
        ),
    )
    n_copies = copies.count()
    assert n_copies > 0
    planted = emb.select("vec_id", "embedding").unionByName(copies)
    out = sim.semdedup(planted, dim=dim, threshold=0.95)
    ids = [r["vec_id"] for r in out.select("vec_id").collect()]
    assert all(i < 10_000_000 for i in ids), "a scaled copy survived"
    # natural near-dups (if any) also collapse; originals can only shrink
    assert n - n_copies <= len(ids) <= n
    # idempotence on the deduped output: no surviving within-cell pair
    again = sim.embedding_near_dups(
        out.select("cell", "vec_id", "embedding"), block_cols=["cell"],
        threshold=0.95,
    )
    assert again.count() == 0


def _plan_lines_with(df, col):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [ln for ln in plan.splitlines() if col in ln]


def test_centroid_dim_is_jvm_local(spark):
    """The centroid dim plans as a LocalRelation, not a LogicalRDD: a
    Python-list dim is a Python-RDD scan every job re-runs in Python
    workers."""
    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.1]), (2, [1.0, 0.2]), (3, [0.05, 1.0])],
        "vec_id bigint, embedding array<float>",
    )
    out = sim.semdedup(vecs, dim=2, n_cells=2, threshold=0.95, centroids=cents)
    lines = _plan_lines_with(out, "_cvec")
    assert any("LocalRelation" in ln for ln in lines), lines
    assert not any("LogicalRDD" in ln for ln in lines), lines
    assert {r["vec_id"] for r in out.collect()} == {2, 3}
