"""Product quantization (fit → encode → ADC top-k) — verified by exact
agreement with a pure-numpy PQ reference (the BM25-oracle pattern), a
reconstruction-exact law (vectors built FROM codebook entries rank
identically to brute force), and a measured recall floor on the shared
embeddings table."""

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from hypertrace_ingester_spark.operators import similarity as sim

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata dir {SF_DIR} missing"
)


def _corpus(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))


def _dim(spark):
    row = _corpus(spark).select("embedding").first()
    return len(row[0])


# --- pure-numpy reference ----------------------------------------------------

def _py_encode(x, books):
    m, k, dsub = books.shape
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    codes = np.empty((len(x), m), dtype=np.int64)
    for j in range(m):
        sub = x[:, j * dsub:(j + 1) * dsub]
        d = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = np.argmin(d, axis=1)
    return codes


def _py_topk(codes, ids, q, books, k):
    m, kk, dsub = books.shape
    q = q / np.maximum(np.linalg.norm(q), 1e-12)
    lut = np.empty((m, kk))
    for j in range(m):
        qs = q[j * dsub:(j + 1) * dsub]
        lut[j] = ((qs[None, :] - books[j]) ** 2).sum(axis=1)
    dist = np.zeros(len(codes))
    for j in range(m):
        dist += lut[j][codes[:, j]]
    order = sorted(range(len(ids)), key=lambda i: (dist[i], ids[i]))
    return [(int(ids[i]), float(dist[i])) for i in order[:k]]


def test_ivfpq_one_cell_matches_numpy_reference(spark):
    """Flat PQ is IVF-PQ with one cell: codes and the ADC top-k (at the
    default nprobe, above the cell count) equal the numpy reference, which
    excludes self-matches as ivfpq_topk does."""
    corpus = _corpus(spark)
    dim = _dim(spark)
    books = sim.fit_pq_codebooks(corpus, dim, m=8, k=16)
    assert books.shape == (8, 16, dim // 8)
    # deterministic fit
    again = sim.fit_pq_codebooks(corpus, dim, m=8, k=16)
    assert np.array_equal(books, again)
    one = np.ones((1, dim))

    pdf = corpus.toPandas()
    x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    want_codes = _py_encode(x, books)

    got = (sim.ivfpq_encode(corpus, dim, books, n_cells=1, centroids=one)
           .toPandas().set_index("vec_id"))
    assert set(got["cell"]) == {0}
    for i, vid in enumerate(ids):
        assert list(got.loc[vid, "codes"]) == list(want_codes[i]), vid

    queries = corpus.where("vec_id % 37 = 0").limit(5)
    got_topk = (
        sim.ivfpq_topk(corpus, queries, dim, books, k=7, n_cells=1,
                       centroids=one)
        .orderBy("query_id", "rank").collect()
    )
    qpdf = queries.toPandas()
    for qid, qv in zip(qpdf["vec_id"], qpdf["embedding"]):
        others = ids != qid
        want = _py_topk(want_codes[others], ids[others],
                        np.asarray(qv, float), books, 7)
        have = [(r["vec_id"], r["adc_dist"]) for r in got_topk
                if r["query_id"] == qid]
        assert [h[0] for h in have] == [w[0] for w in want], qid
        assert np.allclose([h[1] for h in have], [w[1] for w in want])


def test_ivfpq_one_cell_reconstruction_exact_finds_lossless_copy(spark):
    # corpus vectors assembled FROM codebook entries: encoding is lossless,
    # so ADC distance equals the true distance. The queries are corpus rows
    # under offset ids, so self-exclusion keeps their lossless copies, and
    # top-1 is the lowest-id copy (rows i and i+8 are identical) at 0
    rng = np.random.RandomState(5)
    m, k, dsub = 4, 8, 3
    books = rng.randn(m, k, dsub)
    rows = []
    for i in range(60):
        picks = [(i + j * 7) % k for j in range(m)]
        v = np.concatenate([books[j][picks[j]] for j in range(m)])
        rows.append((i, [float(t) for t in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.where("vec_id < 5").withColumn("vec_id", F.col("vec_id") + 1000)
    # normalize=False: vectors are raw codebook concatenations
    got = (
        sim.ivfpq_topk(corpus, queries, m * dsub, books, k=1, n_cells=1,
                       centroids=np.ones((1, m * dsub)), normalize=False)
        .orderBy("query_id").collect()
    )
    assert len(got) == 5
    for r in got:
        assert r["vec_id"] == r["query_id"] - 1000  # the lossless copy
        assert abs(r["adc_dist"]) < 1e-18           # lossless: distance 0


def test_ivfpq_one_cell_recall_beats_random_and_code_width(spark):
    corpus = _corpus(spark)
    dim = _dim(spark)
    n = corpus.count()
    books = sim.fit_pq_codebooks(corpus, dim, m=8, k=16)
    one = np.ones((1, dim))
    enc = sim.ivfpq_encode(corpus, dim, books, n_cells=1, centroids=one)
    # the code row is m smallint entries vs dim floats
    assert len(enc.first()["codes"]) == 8

    queries = corpus.where("vec_id % 29 = 0").limit(10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.cosine_topk(corpus, queries, k=5).collect()
    }
    approx = sim.ivfpq_topk(corpus, queries, dim, books, k=5, n_cells=1,
                            centroids=one, encoded=enc).collect()
    hits = sum(
        1 for r in approx
        if (r["query_id"], r["vec_id"]) in exact
    )
    recall = hits / len(exact)
    # near-uniform vectors are PQ's hardest regime; the floor just needs
    # to beat random chance clearly (random recall ≈ k²/n ≈ 0.05 here;
    # measured 0.24 with m=8, k=16 — ~5× random at 32× compression)
    assert recall > 0.15, recall
    assert recall > 3 * (25 / n)


def test_ivfpq_encoder_cells_equal_ivf_assign_cells(spark):
    """The corpus cells of ivfpq_encode are exactly ivf_assign's for the
    same NON-unit centroids, in both fold modes: a scan over encoded
    corpus cells and a query probe set must share one geometry."""
    corpus = _corpus(spark)
    dim = _dim(spark)
    books = sim.fit_pq_codebooks(corpus, dim, m=8, k=16)
    # raw corpus rows at eight different scales: the default mode ranks
    # cells by x̂·c, so a centroid normalization in one signer only would
    # reorder cells here
    cents = sim.vectors_by_id(corpus, 0, 8) * np.arange(1.0, 9.0)[:, None]
    for fold in (False, True):
        enc = {(r["vec_id"], r["cell"]) for r in sim.ivfpq_encode(
            corpus, dim, books, n_cells=8, corpus_probe=2, centroids=cents,
            exact_fold=fold).collect()}
        ivf = {(r["vec_id"], r["cell"]) for r in sim.ivf_assign(
            corpus, dim, n_cells=8, nprobe=2, centroids=cents,
            exact_fold=fold).collect()}
        assert len(enc) == 2 * corpus.count()
        assert enc == ivf, fold


def _py_ivfpq(x, ids, centroids, books, qid, qv, nprobe, corpus_probe, k):
    # pure-python IVF-PQ reference: cells by cosine, ADC inside probed cells
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    cell_order = np.argsort(-(xn @ cn.T), axis=1, kind="stable")
    member_cells = {int(i): set(cell_order[r, :corpus_probe])
                    for r, i in enumerate(ids)}
    qn = qv / max(np.linalg.norm(qv), 1e-12)
    probe = set(np.argsort(-(qn @ cn.T), kind="stable")[:nprobe])
    codes = _py_encode(x, books)
    m, kk, dsub = books.shape
    lut = np.empty((m, kk))
    for j in range(m):
        qs = qn[j * dsub:(j + 1) * dsub]
        lut[j] = ((qs[None, :] - books[j]) ** 2).sum(axis=1)
    cand = []
    for r, i in enumerate(ids):
        if int(i) == int(qid) or not (member_cells[int(i)] & probe):
            continue
        d = sum(lut[j][codes[r, j]] for j in range(m))
        cand.append((float(d), int(i)))
    cand.sort()
    return [(i, d) for d, i in cand[:k]]


def test_ivfpq_matches_python_reference(spark):
    corpus = _corpus(spark)
    dim = _dim(spark)
    books = sim.fit_pq_codebooks(corpus, dim, m=8, k=16)
    cents = sim.fit_centroids(corpus, dim, n_cells=8)
    queries = corpus.where("vec_id % 41 = 0").limit(4)

    got = (
        sim.ivfpq_topk(corpus, queries, dim, books, k=5, n_cells=8,
                       nprobe=3, corpus_probe=2, centroids=cents)
        .orderBy("query_id", "rank").collect()
    )
    pdf = corpus.toPandas()
    x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    qpdf = queries.toPandas()
    for qid, qv in zip(qpdf["vec_id"], qpdf["embedding"]):
        want = _py_ivfpq(x, ids, cents, books, qid,
                         np.asarray(qv, float), 3, 2, 5)
        have = [(r["vec_id"], r["adc_dist"]) for r in got
                if r["query_id"] == qid]
        assert [h[0] for h in have] == [w[0] for w in want], qid
        assert np.allclose([h[1] for h in have], [w[1] for w in want])


def test_ivfpq_encoded_frame_is_narrow_and_reusable(spark):
    corpus = _corpus(spark)
    dim = _dim(spark)
    books = sim.fit_pq_codebooks(corpus, dim, m=8, k=16)
    cents = sim.fit_centroids(corpus, dim, n_cells=8)
    enc = sim.ivfpq_encode(corpus, dim, books, n_cells=8,
                           corpus_probe=2, centroids=cents)
    # no vector; _pq_geom is a constant literal stamp, not payload
    assert set(enc.columns) == {"vec_id", "cell", "codes", "_pq_geom"}
    assert enc.count() == 2 * corpus.count()                # 2 cells each
    queries = corpus.where("vec_id % 41 = 0").limit(4)
    a = sim.ivfpq_topk(corpus, queries, dim, books, k=5, n_cells=8,
                       nprobe=3, corpus_probe=2, centroids=cents).collect()
    b = sim.ivfpq_topk(corpus, queries, dim, books, k=5, n_cells=8,
                       nprobe=3, centroids=cents,
                       encoded=enc.localCheckpoint()).collect()
    assert sorted((r["query_id"], r["vec_id"], r["rank"]) for r in a) == \
        sorted((r["query_id"], r["vec_id"], r["rank"]) for r in b)


def test_adc_topk_rejects_unbounded_queries_frame(spark):
    """The ADC top-k paths toPandas() the QUERY side under a documented
    bounded-queries assumption; the guard must raise on an oversized
    frame instead of OOMing the driver (review find). Exercised via the
    shared helper with a tiny cap so the test stays cheap."""
    q = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(7)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="bounded queries frame"):
        sim._bounded_query_pdf(
            q, F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"), max_rows=5)
    # within the cap: passes through untruncated
    pdf = sim._bounded_query_pdf(
        q, F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"), max_rows=7)
    assert len(pdf) == 7


def test_ivfpq_rerank_recovers_exact_ivf_ranking(spark):
    """PQ-then-exact-rerank (round 5): with rerank >= the probed candidate
    population, the ADC stage is a pass-through candidate generator and
    the result must EQUAL ivf_topk's exact in-cell rerank at the same
    probe parameters; with small rerank, recall@5 vs exact must be at
    least the plain ADC ranking's (quantization error can only be
    repaired, not introduced, by exact rescoring of a superset)."""
    emb = _corpus(spark)
    dim = _dim(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    books = sim.fit_pq_codebooks(emb, dim, m=8, k=16)
    cents = sim.fit_centroids(emb, dim)

    ivf = sim.ivf_topk(emb, queries, dim=dim, k=5, centroids=cents,
                       round_cos=None)
    rr = sim.ivfpq_rerank_topk(emb, queries, dim=dim, codebooks=books,
                               k=5, rerank=100000, centroids=cents)
    got_ivf = {(r["query_id"], r["neighbor_id"], r["rank"])
               for r in ivf.collect()}
    got_rr = {(r["query_id"], r["vec_id"], r["rank"])
              for r in rr.collect()}
    assert got_rr == got_ivf

    exact = {(r["query_id"], r["neighbor_id"])
             for r in sim.cosine_topk(emb, queries, k=5).collect()}

    def recall(df, id_field):
        got = {(r["query_id"], r[id_field]) for r in df.collect()}
        return len(got & exact) / len(exact)

    adc = sim.ivfpq_topk(emb, queries, dim=dim, codebooks=books, k=5,
                         centroids=cents)
    assert recall(rr, "vec_id") >= recall(adc, "vec_id")


def test_ivfpq_topk_rejects_geometry_mismatched_encoding(spark):
    """A persisted encoding built with normalize=False must not be
    scanned with normalize=True LUTs (review find: mixed geometries
    return silently wrong neighbors)."""
    corpus = _corpus(spark)
    dim = _dim(spark)
    books = sim.fit_pq_codebooks(corpus, dim, m=8, k=16)
    cents = sim.fit_centroids(corpus, dim, n_cells=8)
    enc_raw = sim.ivfpq_encode(corpus, dim, books, n_cells=8,
                               centroids=cents, normalize=False)
    queries = corpus.where("vec_id < 3")
    with pytest.raises(ValueError, match="geometry"):
        sim.ivfpq_topk(corpus, queries, dim, books, k=3, n_cells=8,
                       centroids=cents, encoded=enc_raw)  # normalize=True
    # matching flags pass
    ok = sim.ivfpq_topk(corpus, queries, dim, books, k=3, n_cells=8,
                        centroids=cents, encoded=enc_raw, normalize=False)
    assert ok.count() > 0


def test_ivfpq_geometry_stamp_is_column_metadata(spark, tmp_path):
    """The geometry rides in ``_pq_geom``'s metadata and survives a
    parquet round trip, so a persisted encoding keeps its stamp."""
    corpus = _corpus(spark)
    dim = _dim(spark)
    books = sim.fit_pq_codebooks(corpus, dim, m=8, k=16)
    cents = sim.fit_centroids(corpus, dim, n_cells=8)
    enc = sim.ivfpq_encode(corpus, dim, books, n_cells=8, centroids=cents,
                           normalize=False, exact_fold=True)
    want = {"pq_geometry": "norm=0,fold=1"}
    assert enc.schema["_pq_geom"].metadata == want
    enc.write.parquet(str(tmp_path / "enc"))
    back = spark.read.parquet(str(tmp_path / "enc"))
    assert back.schema["_pq_geom"].metadata == want


def test_ivfpq_topk_geometry_check_runs_no_job(spark):
    """A stamped encoding is checked from its schema: the mismatch raises
    before any Spark job runs."""
    corpus = _corpus(spark)
    dim = _dim(spark)
    books = sim.fit_pq_codebooks(corpus, dim, m=8, k=16)
    cents = sim.fit_centroids(corpus, dim, n_cells=8)
    enc_raw = sim.ivfpq_encode(corpus, dim, books, n_cells=8,
                               centroids=cents, normalize=False)
    sc = spark.sparkContext
    group = "ivfpq-geometry-check"
    sc.setJobGroup(group, "geometry check")
    try:
        with pytest.raises(ValueError, match="geometry"):
            sim.ivfpq_topk(corpus, corpus.where("vec_id < 3"), dim, books,
                           k=3, n_cells=8, centroids=cents, encoded=enc_raw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_ivfpq_topk_checks_unstamped_geometry_by_value(spark):
    """An encoding whose ``_pq_geom`` lost its metadata is still checked,
    from the column's value."""
    corpus = _corpus(spark)
    dim = _dim(spark)
    books = sim.fit_pq_codebooks(corpus, dim, m=8, k=16)
    cents = sim.fit_centroids(corpus, dim, n_cells=8)
    enc_raw = sim.ivfpq_encode(corpus, dim, books, n_cells=8,
                               centroids=cents, normalize=False)
    bare = enc_raw.withColumn("_pq_geom", F.col("_pq_geom").alias("_pq_geom", metadata={}))
    assert bare.schema["_pq_geom"].metadata == {}
    queries = corpus.where("vec_id < 3")
    with pytest.raises(ValueError, match="geometry"):
        sim.ivfpq_topk(corpus, queries, dim, books, k=3, n_cells=8,
                       centroids=cents, encoded=bare)
    ok = sim.ivfpq_topk(corpus, queries, dim, books, k=3, n_cells=8,
                        centroids=cents, encoded=bare, normalize=False)
    assert ok.count() > 0
