"""IVF ANN agreement with the brute-force baseline: exact rerank inside
probed cells means every returned neighbor's similarity is its true value,
and recall@5 vs brute force stays useful at nprobe=4/16 (deterministic —
seeded centroids)."""

from pyspark.sql import functions as F

from hypertrace_ingester_spark.operators import similarity as sim
from hypertrace_ingester_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_ivf_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.ivf_topk(emb, queries, dim=64, k=5).collect()
    }
    assert approx, "IVF returned no candidates"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"IVF recall@5 {recall:.2f} below 0.5"


def test_trained_centroids_and_multiassignment_raise_recall(spark):
    """VERDICT r2 #6/#7: k-means-trained centroids beat seeded-random ones
    at equal nprobe, and corpus multiple-assignment (x2) pushes recall@5 to
    >=0.8 on the near-uniform synthetic embeddings."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(emb, queries, k=5).collect()
    }

    def recall(**kw):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in sim.ivf_topk(emb, queries, dim=64, k=5, **kw).collect()
        }
        return len(got & exact) / len(exact)

    trained = sim.fit_centroids(emb, 64)
    r_random = recall()
    r_trained = recall(centroids=trained)
    r_ma = recall(centroids=trained, corpus_probe=2)
    assert r_trained >= r_random, f"trained {r_trained:.2f} < random {r_random:.2f}"
    assert r_ma >= 0.75, f"trained+ma2 recall@5 {r_ma:.2f} below 0.75"


def test_ivf_deterministic_across_partitionings(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    a = sim.ivf_topk(emb.repartition(16), queries, dim=64, k=5).orderBy(
        "query_id", "rank"
    ).collect()
    b = sim.ivf_topk(emb.coalesce(1), queries, dim=64, k=5).orderBy(
        "query_id", "rank"
    ).collect()
    assert a == b


def test_multitable_lsh_raises_recall_and_dedups(spark):
    """Multi-table hyperplane LSH (classic E2LSH banding): the union over
    independent tables must dominate a single table's recall, and a
    (query, neighbor) pair colliding in several tables must appear once."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(emb, queries, k=5).collect()
    }

    def pairs(**kw):
        return [
            (r["query_id"], r["neighbor_id"])
            for r in sim.ann_topk(emb, queries, dim=64, k=5, bits=8, **kw).collect()
        ]

    single = pairs()
    multi = pairs(tables=8)
    assert len(set(multi)) == len(multi), "duplicate (query, neighbor) pairs"
    r1 = len(set(single) & exact) / len(exact)
    r8 = len(set(multi) & exact) / len(exact)
    assert r8 >= r1, f"8-table recall {r8:.2f} < single-table {r1:.2f}"
    assert len(multi) >= len(single), "union candidates should not shrink"


def test_multitable_signatures_table1_matches_single(spark):
    """tables=1 must be bit-identical to the pre-multi-table behavior:
    same bucket for every vector (plane matrix prefix is shared)."""
    emb = load_table(spark, SF_DIR, "embeddings").limit(50)
    a = {
        r["vec_id"]: r["bucket"]
        for r in sim.lsh_signatures(emb, dim=64, bits=8).collect()
    }
    b = {
        r["vec_id"]: r["bucket"]
        for r in sim.lsh_signatures(emb, dim=64, bits=8, tables=1).collect()
    }
    assert a == b


def test_embedding_near_dups_blocked_exact(spark):
    """Blocked-exact near-dup pairs: every pair is within its block, ids
    are ordered, top_per_block bounds each block's output, and cosine
    values match an independent numpy computation."""
    import numpy as np

    emb = load_table(spark, SF_DIR, "embeddings")
    out = sim.embedding_near_dups(
        emb, block_cols=["label"], threshold=0.0, top_per_block=3
    ).collect()
    assert out, "no pairs returned"
    by_label = {}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    for r in out:
        assert r["id_a"] < r["id_b"]
        assert r["cos_sim"] >= 0.0
        by_label.setdefault(r["label"], []).append(r)
        a, b = vecs[r["id_a"]], vecs[r["id_b"]]
        expect = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["cos_sim"] - expect) < 1e-9
    for label, rows in by_label.items():
        assert len(rows) <= 3
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))


def test_embedding_near_dups_lsh_agreement(spark):
    """LSH-bucketed near-dups on a corpus WITH planted duplicates: every
    returned pair must appear in the exact all-pairs reference (no false
    positives — candidates are exact-verified), and recall over planted
    near-identical pairs is high at 8 tables."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    base = rng.standard_normal((40, 64)).astype(np.float32)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v.tolist()))
        # planted near-duplicate: tiny perturbation, cosine ~0.999
        rows.append((1000 + i, (v + 0.02 * rng.standard_normal(64).astype(np.float32)).tolist()))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in sim.embedding_near_dups(
            df, block_cols=[], threshold=0.9, top_per_block=None
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in sim.embedding_near_dups_lsh(
            df, dim=64, threshold=0.9, bits=8, tables=8
        ).collect()
    }
    assert exact, "fixture planted no exact pairs"
    assert got <= exact, f"false positives: {got - exact}"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"planted-dup recall {recall:.2f} below 0.9"


def test_fold_dot_bit_identical_to_sequential_fold():
    """_fold_dot_np / _fold_norm_np (the exact_fold oracle-parity mode) must
    accumulate in STRICT index order — bit-identical to a pure-Python left
    fold, which is the same arithmetic Spark's F.aggregate and DuckDB's
    list_dot_product perform. BLAS matmul (the production path) uses
    blocked/pairwise summation and is allowed to differ in the last ulp;
    the oracle path is not."""
    import numpy as np

    rng = np.random.RandomState(3)
    x = rng.standard_normal((7, 64))
    planes = rng.standard_normal((64, 5))
    got = sim._fold_dot_np(x, planes)
    for i in range(x.shape[0]):
        for j in range(planes.shape[1]):
            acc = 0.0
            for d in range(64):
                acc = acc + float(x[i, d]) * float(planes[d, j])
            assert got[i, j] == acc  # bitwise, not approx
    norms = sim._fold_norm_np(x)
    for i in range(x.shape[0]):
        acc = 0.0
        for d in range(64):
            acc = acc + float(x[i, d]) ** 2
        assert norms[i] == np.sqrt(acc)


def test_vectors_by_id_contiguity_guard(spark):
    """vectors_by_id returns an id-ordered (hi-lo, dim) matrix and raises on
    gaps — the guard that keeps oracle planes/centroids well-defined."""
    import numpy as np
    import pandas as pd
    import pytest

    rows = [(i, np.arange(4, dtype=np.float32) + i) for i in (0, 1, 3)]
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1].tolist() for r in rows]})
    )
    m = sim.vectors_by_id(df, 0, 2, vec_col="embedding")
    assert m.shape == (2, 4) and m[1, 0] == 1.0
    with pytest.raises(ValueError, match="contiguous"):
        sim.vectors_by_id(df, 0, 4, vec_col="embedding")


def test_one_cell_at_default_nprobe_is_brute_force(spark):
    """A probe count above the cell count probes every cell once: with
    n_cells=1 at the default nprobe, ivf_assign emits one row per vector
    and ivf_topk ranks exactly like the brute-force baseline."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    assert sim.IVF_NPROBE > 1
    assert sim.ivf_assign(emb, 64, n_cells=1, nprobe=sim.IVF_NPROBE).count() == emb.count()
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in sim.ivf_topk(emb, queries, dim=64, k=5, n_cells=1).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in sim.cosine_topk(emb, queries, k=5).collect()
    }
    assert got == want


def test_vector_matrix_rejects_null_and_ragged_rows():
    """The signers read a batch's vectors with one flatten + reshape; a
    null or wrong-length row raises the named error instead of shifting
    every later row (the last case flattens to a valid-looking 2x2)."""
    import pyarrow as pa
    import pytest

    f32 = pa.list_(pa.float32())
    ok = sim._matrix(pa.array([[1.0, 2.0], [3.0, 4.0]], f32), 2, "embedding")
    assert ok.dtype == "float64" and ok.tolist() == [[1.0, 2.0], [3.0, 4.0]]
    for bad in ([[1.0, 2.0], [3.0]], [[1.0, 2.0], None], [[1.0], [2.0, 3.0, 4.0]]):
        with pytest.raises(sim.RaggedVectorError, match="row 1|row 0"):
            sim._matrix(pa.array(bad, f32), 2, "embedding")


def test_signer_raises_named_error_on_ragged_row(spark):
    import pytest

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="RaggedVectorError"):
        sim.ivf_assign(df, 2, n_cells=2).collect()
