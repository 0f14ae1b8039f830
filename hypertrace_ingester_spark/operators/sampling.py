"""Deterministic sampling / data-mixing operators for training-set
assembly over the ``documents`` table.

Two ops every LLM data pipeline runs before tokenization:

- :func:`hash_split` — stable train/val/test assignment by key hash. No
  randomness, no state: re-running on a grown corpus never reassigns an
  existing doc (the property rand()-based splits lack), and the split is
  reproducible across clusters, sessions and engines.
- :func:`mixture_sample` — per-source downsampling to hit target mixture
  proportions by TOKEN mass (not doc count), scaled to the largest total
  the corpus can supply without upsampling any source. The per-source
  keep-fractions are computed from a sources-sized aggregate (bounded by
  the source dim, collected to the driver like any dim table) and applied
  as one deterministic hash filter — a single scan, no shuffle.

Both use the same hash→unit-interval mapping: pmod(xxhash64(key, seed),
BUCKETS) / BUCKETS, so membership is auditable row-by-row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKETS = 1_000_000  # hash resolution: keep-fractions quantize to 1e-6


def _unit_hash(key: str, seed: int) -> Column:
    return F.pmod(F.xxhash64(F.col(key), F.lit(seed)), F.lit(BUCKETS))


def hash_split(df: DataFrame, weights: dict[str, float] | None = None,
               key: str = "doc_id", seed: int = 0,
               split_col: str = "split") -> DataFrame:
    """Assign each row to a named split by cumulative hash-bucket ranges.

    ``weights`` are normalized; assignment order is the dict order (make
    it deterministic — python dicts preserve insertion order). A doc's
    split depends only on (key, seed, weights), never on the rest of the
    corpus."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = float(sum(weights.values()))
    h = _unit_hash(key, seed)
    expr = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name] / total
        bound = int(round(cum * BUCKETS))
        cond = h < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn(split_col, expr)


def mixture_keep_fractions(token_totals: dict[str, int],
                           target: dict[str, float]) -> dict[str, float]:
    """Per-source keep fractions hitting ``target`` proportions by token
    mass with NO upsampling: the achievable total is S = min(T_s / p_s),
    keep_s = p_s * S / T_s (the binding source keeps 1.0). Pure function
    so tests/oracles can restate it."""
    total_p = float(sum(target.values()))
    p = {s: w / total_p for s, w in target.items()}
    feasible = min(token_totals[s] / p[s] for s in p if p[s] > 0)
    return {
        s: (p[s] * feasible / token_totals[s]) if token_totals.get(s) else 0.0
        for s in p
    }


def source_token_totals(docs: DataFrame, source_col: str = "source",
                        text_col: str = "text") -> dict[str, int]:
    """Natural per-source token mass: ONE aggregate over the source dim,
    driver-collected (bounded by #sources — a dim table, never the
    corpus). Shared by :func:`mixture_sample` and
    :func:`temperature_mixture_sample` so callers composing both pay the
    corpus scan once."""
    toks = F.size(F.split(F.col(text_col), " "))
    return {
        r[source_col]: r["t"]
        for r in docs.groupBy(source_col)
        .agg(F.sum(toks).alias("t")).collect()
    }


def mixture_sample(docs: DataFrame, target: dict[str, float],
                   source_col: str = "source", text_col: str = "text",
                   key: str = "doc_id", seed: int = 7,
                   token_totals: dict[str, int] | None = None) -> DataFrame:
    """Downsample per source so sampled token mass matches ``target``
    proportions (sources absent from ``target`` drop). One aggregate over
    the source dim (driver-collected, bounded by #sources; pass
    ``token_totals`` to reuse a measurement and skip the scan) → broadcast
    keep-fraction filter via the deterministic unit hash — single scan."""
    if token_totals is None:
        token_totals = source_token_totals(docs, source_col, text_col)
    totals = {s: t for s, t in token_totals.items() if s in target}
    fracs = mixture_keep_fractions(totals, {s: w for s, w in target.items()
                                            if s in totals})
    frac_col = None
    for s, f in fracs.items():
        bound = F.lit(int(round(f * BUCKETS)))
        frac_col = (F.when(F.col(source_col) == s, bound)
                    if frac_col is None
                    else frac_col.when(F.col(source_col) == s, bound))
    if frac_col is None:
        return docs.limit(0)
    frac_col = frac_col.otherwise(F.lit(-1))  # sources outside target drop
    return docs.where(_unit_hash(key, seed) < frac_col)


def temperature_weights(token_totals: dict[str, int],
                        temperature: float = 0.3) -> dict[str, float]:
    """Temperature-scaled mixture proportions (the multilingual-corpus
    recipe of mT5 — Xue et al. 2021 §3.2 — and PaLM): p_s ∝ (T_s/ΣT)^α
    with α = ``temperature``. α=1 reproduces natural proportions; α→0
    approaches uniform — α<1 upweights low-resource sources relative to
    their natural share. Pure function over the bounded source dim so
    tests restate the math exactly."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    total = float(sum(token_totals.values()))
    if total <= 0:
        return {s: 0.0 for s in token_totals}
    powered = {s: (t / total) ** temperature for s, t in token_totals.items()
               if t > 0}
    z = sum(powered.values())
    out = {s: p / z for s, p in powered.items()}
    out.update({s: 0.0 for s, t in token_totals.items() if t <= 0})
    return out


def temperature_mixture_sample(docs: DataFrame, temperature: float = 0.3,
                               source_col: str = "source",
                               text_col: str = "text",
                               key: str = "doc_id",
                               seed: int = 7) -> DataFrame:
    """mT5-style temperature mixing without upsampling: measure natural
    per-source token mass once, temper it with :func:`temperature_weights`,
    and apply the same deterministic hash filter as :func:`mixture_sample`
    (whose no-upsampling scaling makes the most-upweighted — lowest
    natural share — source bind at keep=1.0, with every other source
    thinned toward its tempered proportion). For upweighting PAST 1.0,
    compose with :func:`upsample` (repeated-epochs recipe) instead.
    Plan shape: one source-dim aggregate + one filtered scan — identical
    to mixture_sample; the temperature math is driver-side over the
    bounded dim."""
    totals = source_token_totals(docs, source_col, text_col)
    target = temperature_weights(totals, temperature)
    return mixture_sample(docs, target, source_col, text_col, key, seed,
                          token_totals=totals)


def pack_offsets(
    docs: DataFrame,
    tokens_col: str = "n_tokens",
    order_col: str = "doc_id",
    block_tokens: int = 2048,
    buckets: int = 1024,
) -> DataFrame:
    """Sequence packing, GPT-2 concat-and-chunk form: concatenate every
    doc's tokens in ascending ``order_col`` order and cut the stream into
    fixed ``block_tokens`` training sequences. The deliverable is each
    doc's deterministic GLOBAL token offset plus the block range it lands
    in — the assignment every pretraining pipeline needs before writing
    packed sequences.

    The global offset is an exclusive prefix sum, computed WITHOUT a
    single-partition window (the naive ``Window.orderBy`` with no
    partitionBy collapses the corpus onto one task): the classic
    distributed two-phase prefix — (1) bucket docs by ``order_col`` range
    and aggregate per-bucket token totals (one partial-agg'd shuffle,
    ``buckets`` rows), (2) the driver prefix-sums that bounded dim (like
    any dim-table collect) and broadcasts base offsets back, (3) a window
    partitioned BY BUCKET computes the intra-bucket exclusive cumsum in
    parallel. Rows with ``tokens_col <= 0`` are excluded (they occupy no
    stream positions).

    Returns ``docs`` + ``tok_offset``, ``first_block``, ``last_block``,
    ``n_blocks`` (all long)."""
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    from .enrich import local_dim

    live = docs.where(F.col(tokens_col) > 0)
    max_id = live.agg(F.max(order_col).alias("m")).first()["m"]
    if max_id is None:
        return (
            docs.limit(0)
            .withColumn("tok_offset", F.lit(0).cast("long"))
            .withColumn("first_block", F.lit(0).cast("long"))
            .withColumn("last_block", F.lit(0).cast("long"))
            .withColumn("n_blocks", F.lit(0).cast("long"))
        )
    span = max(1, (int(max_id) + buckets) // buckets)
    bucketed = live.withColumn(
        "_pk_bucket", (F.col(order_col) / F.lit(span)).cast("long")
    )
    totals = {
        r["_pk_bucket"]: r["t"]
        for r in bucketed.groupBy("_pk_bucket")
        .agg(F.sum(tokens_col).cast("long").alias("t"))
        .collect()
    }
    bases, running = [], 0
    for b in sorted(totals):
        bases.append((b, running))
        running += totals[b]
    base_df = local_dim(docs.sparkSession, bases, T.StructType(
        [T.StructField("_pk_bucket", T.LongType()), T.StructField("_pk_base", T.LongType())]))
    w = (
        Window.partitionBy("_pk_bucket")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    intra = F.coalesce(F.sum(F.col(tokens_col).cast("long")).over(w), F.lit(0))
    L = F.lit(int(block_tokens))
    return (
        bucketed.join(F.broadcast(base_df), "_pk_bucket")
        .withColumn("tok_offset", (F.col("_pk_base") + intra).cast("long"))
        .withColumn("first_block", F.floor(F.col("tok_offset") / L).cast("long"))
        .withColumn(
            "last_block",
            F.floor((F.col("tok_offset") + F.col(tokens_col) - 1) / L).cast("long"),
        )
        .withColumn("n_blocks", (F.col("last_block") - F.col("first_block") + 1))
        .drop("_pk_bucket", "_pk_base")
    )


def pack_blocks(
    packed: DataFrame,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    block_tokens: int = 2048,
) -> DataFrame:
    """Explode :func:`pack_offsets` output into per-(block, doc) slices —
    the write plan for materializing packed sequences: for every training
    block, which doc supplies tokens [tok_start, tok_end) within it.
    Map-side explode over ``sequence(first_block, last_block)`` (a doc
    spans ``n_blocks`` ≈ doc_len/block_tokens entries); writers then
    ``groupBy(block_id)`` — one shuffle keyed by block."""
    L = F.lit(int(block_tokens))
    out = packed.select(
        F.col(id_col),
        F.col("tok_offset"),
        (F.col("tok_offset") + F.col(tokens_col)).alias("_pk_end"),
        F.explode(F.sequence("first_block", "last_block")).alias("block_id"),
    )
    return out.select(
        "block_id",
        id_col,
        (F.greatest(F.col("tok_offset"), F.col("block_id") * L)
         - F.col("block_id") * L).cast("long").alias("tok_start"),
        (F.least(F.col("_pk_end"), (F.col("block_id") + 1) * L)
         - F.col("block_id") * L).cast("long").alias("tok_end"),
    ).withColumn("n_toks", (F.col("tok_end") - F.col("tok_start")).cast("long"))


def chunk_documents(
    docs: DataFrame,
    tokens_col: str = "tokens",
    max_len: int = 512,
    stride: int | None = None,
) -> DataFrame:
    """Sliding context windows over a token-array column: chunk ``i``
    covers tokens ``[i*stride, i*stride + max_len)``; the chunk count is
    ``1 + ceil((n - max_len)/stride)`` for docs longer than ``max_len``
    (so the final window always reaches the end of the doc — a short tail
    chunk, never an empty one) and exactly 1 otherwise. ``stride``
    defaults to ``max_len`` (disjoint windows, token-conserving);
    ``stride < max_len`` gives the overlapping windows an embedding /
    long-doc-SFT corpus uses (``stride > max_len`` is rejected — gaps
    contradict the final-window law). Empty docs vanish.

    The fixed-window alternative to :func:`pack_offsets`' concat-and-chunk:
    per-doc windows never cross doc boundaries. Map-side
    ``explode(sequence)`` + ``slice`` — no shuffle; with overlap the
    payload fan-out is ×(max_len/stride), which is the point, not a bug."""
    hop = int(stride) if stride else int(max_len)
    if hop <= 0 or max_len <= 0:
        raise ValueError("max_len and stride must be positive")
    if hop > max_len:
        raise ValueError(
            "stride > max_len leaves unsampled gaps AND breaks the "
            "final-window-reaches-the-end law; use stride <= max_len"
        )
    n = F.size(F.col(tokens_col))
    n_chunks = (
        F.when(n <= max_len, F.lit(1))
        .otherwise(F.lit(1) + F.ceil((n - max_len) / F.lit(hop)))
        .cast("int")
    )
    start = F.col("chunk_idx") * hop
    return (
        docs.where(n > 0)
        .withColumn(
            "chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1))
        )
        .withColumn("chunk", F.slice(F.col(tokens_col), start + 1, max_len))
        .withColumn("n_chunk_tokens", F.size("chunk").cast("int"))
        .drop(tokens_col)
    )


def _gram_stream(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, gram) rows: unigrams + space-joined bigrams, built map-side
    from the words array (the DSIR feature set, Xie et al. 2023 §3)."""
    w = F.split(F.col(text_col), " ")
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size(w)),
            lambda i: F.concat_ws(" ", F.element_at(w, i - 1), F.element_at(w, i)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        F.col(id_col).alias("_ds_id"),
        F.explode(F.concat(w, bigrams)).alias("gram"),
    )


def _bucket_counts(grams: DataFrame, bucket_col) -> DataFrame:
    return (
        grams.select(bucket_col.alias("b"))
        .groupBy("b")
        .agg(F.count("*").cast("long").alias("c"))
    )


def dsir_log_weights(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    alpha: float = 0.5,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, Data Selection via
    Importance Resampling): fit two hashed-n-gram bag models — p from the
    trusted ``target_docs``, q from ``raw_docs`` — and score every raw doc
    by ``log w = Σ_grams (ln p[h(g)] − ln q[h(g)])`` with add-alpha
    smoothing over the ``n_buckets`` hash buckets. High-weight docs look
    like the target distribution.

    Scale shape: gram streams are map-side explodes; each model is one
    partial-agg'd shuffle onto a ``n_buckets``-bounded table; the log-ratio
    table (≤ n_buckets rows) broadcasts into the scoring join; the rollup
    is one partial-agg'd groupBy on the doc id — no sort, no all-pairs.

    ``hash_mode``: ``xxhash64`` (production, JVM hash) or ``md5`` (the
    engine-shared :func:`~..operators.dedup.md5_word_hash` arithmetic, so a
    DuckDB oracle can restate bucketing bit-identically — the simhash
    pattern). Returns ``(doc_id, n_grams, log_weight)``."""
    from .dedup import md5_word_hash

    def bucket(col):
        h = md5_word_hash(col) if hash_mode == "md5" else F.xxhash64(col)
        return F.pmod(h, F.lit(n_buckets)).cast("long")

    raw_grams = _gram_stream(raw_docs, text_col, id_col)
    tgt_grams = _gram_stream(target_docs, text_col, id_col)
    p_counts = _bucket_counts(tgt_grams, bucket(F.col("gram")))
    q_counts = _bucket_counts(raw_grams, bucket(F.col("gram")))
    p_tot = tgt_grams.count()
    q_tot = raw_grams.count()
    aB = alpha * n_buckets
    ratio = (
        p_counts.withColumnRenamed("c", "cp")
        .join(q_counts.withColumnRenamed("c", "cq"), "b", "full")
        .select(
            "b",
            (
                F.log((F.coalesce("cp", F.lit(0)) + F.lit(alpha)) / F.lit(p_tot + aB))
                - F.log((F.coalesce("cq", F.lit(0)) + F.lit(alpha)) / F.lit(q_tot + aB))
            ).alias("log_ratio"),
        )
    )
    return (
        raw_grams.withColumn("b", bucket(F.col("gram")))
        .join(F.broadcast(ratio), "b")
        .groupBy(F.col("_ds_id").alias(id_col))
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum("log_ratio").alias("log_weight"),
        )
    )


def dsir_select(
    raw_docs: DataFrame,
    weights: DataFrame,
    keep_frac: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the top ``keep_frac`` of raw docs by DSIR log-weight: one
    exact-percentile aggregate fixes the threshold (at 100 TB swap in
    ``percentile_approx`` — same plan shape, no global sort either way),
    then one broadcast-threshold scan."""
    thr = weights.agg(
        F.expr(f"percentile(log_weight, {1.0 - keep_frac})").alias("t")
    ).first()["t"]
    return raw_docs.join(
        weights.where(F.col("log_weight") >= F.lit(thr)).select(id_col), id_col
    )


def cluster_balanced_sample(
    docs: DataFrame,
    embeddings: DataFrame,
    dim: int | None = None,
    n_clusters: int = 16,
    target: dict[int, float] | None = None,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
    seed: int = 11,
) -> DataFrame:
    """Semantic-cluster-balanced sampling — the "discover domains by
    clustering, then balance the mixture" recipe (the unsupervised
    counterpart of source-keyed mixing, cf. DoReMi's domain reweighting /
    SemDeDup's cluster partitioning): k-means cells over the embedding
    column become pseudo-sources and :func:`mixture_sample` equalizes
    TOKEN mass across them (or hits ``target`` proportions keyed by
    cluster id).

    Scale shape: centroid fit is the bounded seeded driver-sample
    (similarity.fit_centroids); assignment is the pass-through
    ``mapInArrow`` signer (no join-back shuffle); then one broadcastable
    id→cluster join onto docs and the single-scan hash filter from
    mixture_sample. Returns docs + ``cluster`` with balanced token mass."""
    from .similarity import fit_centroids, ivf_assign

    if dim is None:
        dim = len(embeddings.select(vec_id_col, "embedding").first()["embedding"])
    cents = fit_centroids(embeddings, dim, n_cells=n_clusters)
    assign = ivf_assign(
        embeddings, dim, n_clusters, nprobe=1, id_col=vec_id_col, centroids=cents
    ).select(F.col(vec_id_col).alias(id_col), F.col("cell").alias("cluster"))
    docs_c = docs.join(assign, id_col)
    observed = [r["cluster"] for r in docs_c.select("cluster").distinct().collect()]
    want = target or {c: 1.0 for c in observed}
    mixed = mixture_sample(
        docs_c, {c: w for c, w in want.items() if c in observed},
        source_col="cluster", text_col=text_col, key=id_col, seed=seed,
    )
    return mixed


def md5_unit_hash(key: str, seed: int) -> Column:
    """Engine-shared unit hash (the spandom/d_simhash oracle pattern):
    first 8 hex chars of ``md5(key ':' seed)`` → int in [0, BUCKETS).
    DuckDB restates it bit-identically as
    ``('0x' || substr(md5(key::VARCHAR || ':seed'), 1, 8))::BIGINT %
    BUCKETS``. Production code keeps the cheaper ``_unit_hash``
    (xxhash64); the machinery is hash-agnostic."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col(key).cast("string"), F.lit(str(seed)))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    return F.pmod(h, F.lit(BUCKETS))


def upsample(
    docs: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    key: str = "doc_id",
    seed: int = 3,
    epoch_col: str = "epoch",
    unit_hash=None,
) -> DataFrame:
    """Deterministic per-source repetition weighting — the complement of
    :func:`mixture_sample` (which only downsamples): source ``s`` is
    repeated ``weights[s]`` times in EXPECTATION — every doc gets
    ``floor(w)`` whole copies, and the deterministic ``frac(w)`` hash
    fraction of docs gets one extra — the standard "repeat high-quality
    sources for multiple epochs" recipe (Muennighoff et al. 2023 data-
    constrained scaling / FineWeb-Edu-style quality reweighting).
    Fractional weights < 1 degenerate to downsampling, so one op covers
    both directions of a mixture spec. Sources absent from ``weights``
    keep weight 1.0 (exactly one copy).

    Output gains ``epoch_col`` (0-based copy index) so downstream packing
    or shuffling can interleave epochs instead of emitting consecutive
    duplicates. Determinism: a doc's copy count depends only on
    (key, seed, weights) — growing the corpus never changes it (the
    hash_split property).

    Scale shape: one ``when``-chain map stage + an ``explode(sequence)``
    whose fan-out is the weight itself — no shuffle, no rand(), no
    driver-side state. ``unit_hash`` is the oracle-parity seam
    (:func:`md5_unit_hash`); default is the production xxhash64 map.
    """
    uh = (unit_hash or _unit_hash)(key, seed)
    import math

    floor_col, bound_col = None, None
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"negative weight {w!r} for source {s!r}")
        fl = int(math.floor(w))
        fb = int(round((w - fl) * BUCKETS))
        cond = F.col(source_col) == s
        floor_col = (F.when(cond, fl) if floor_col is None
                     else floor_col.when(cond, fl))
        bound_col = (F.when(cond, fb) if bound_col is None
                     else bound_col.when(cond, fb))
    floor_col = F.lit(1) if floor_col is None else floor_col.otherwise(F.lit(1))
    bound_col = F.lit(0) if bound_col is None else bound_col.otherwise(F.lit(0))
    copies = (floor_col + (uh < bound_col).cast("int")).alias("_copies")
    return (
        docs.withColumn("_copies", copies)
        .where(F.col("_copies") > 0)
        .withColumn(epoch_col, F.explode(F.sequence(F.lit(0), F.col("_copies") - 1)))
        .drop("_copies")
    )
