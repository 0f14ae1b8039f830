"""Plan-property regression tests — the physical-plan invariants PLANS.md
documents, asserted so an optimizer-hostile refactor can't silently ship:

- filters and column pruning reach the parquet scan;
- the G1+G3+G2 session chain reuses ONE exchange;
- the LSH ANN corpus side feeds the bucket join straight from the signer
  (no join-back exchange, no forced broadcast hint);
- salted fan-out spreads one hot key across many partitions.
"""

from pyspark.sql import functions as F

from hypertrace_ingester_spark.queries import REGISTRY, _load_extensions

_load_extensions()

SF_DIR = "/root/testdata/sf0.001"


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_drop_filter_pushdown(spark):
    plan = _executed(REGISTRY["p_drop_filter"].fn(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(event_type), Not(EqualTo(event_type,error))" in plan
    # column pruning: untouched columns are absent from the scan schema
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "ts:" not in scan and "user_id" not in scan


def test_sessionize_single_exchange(spark):
    plan = _executed(REGISTRY["g_sessionize"].fn(spark, SF_DIR))
    # one hash exchange on the group key feeds all three windows + the agg
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan  # map-side combine before the final agg


def test_ann_lsh_no_joinback_no_forced_broadcast(spark):
    from hypertrace_ingester_spark.operators import similarity as sim
    from hypertrace_ingester_spark.sources import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    plan = _executed(sim.ann_topk(emb, q, dim=64, k=5, bits=8))
    # corpus side: scan -> signer -> join with NO exchange in between
    assert plan.count("MapInArrow") == 2  # corpus + query signers, no extras
    # the only shuffle is the final per-query top-k window
    assert plan.count("Exchange hashpartitioning") == 1


def test_salted_repartition_spreads_hot_key(spark):
    from hypertrace_ingester_spark.operators import route as route_ops

    hot = spark.range(0, 10_000).select(
        F.lit("sink-0").alias("sink"), F.col("id").alias("doc_id")
    )
    # at test scale AQE's partition coalescing folds the tiny salted
    # partitions back together (they're far below the advisory size) —
    # disable it to observe the salt spread the exchange writes at scale
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        spread = route_ops.salted_repartition(hot, buckets=8)
        n_parts = (
            spread.withColumn("p", F.spark_partition_id())
            .select("p").distinct().count()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert n_parts >= 4  # one hot key occupies many partitions, not one


def test_hot_stage_codegen_stays_above_huge_method_limit(spark, tmp_path):
    """The parse -> enrich -> route stage is one whole-stage codegen
    subtree whose largest method is over ``hugeMethodLimit``, so Spark
    runs it per operator instead (CLAUDE.md "HOT STAGE CODEGEN STATE").
    Small expression changes cross the limit and move both benchmarks
    (the JIT then compiles one huge method), so an expression change that
    flips the stage fails here and has to be measured first. The frame
    is built fresh with AQE off: an adaptive plan reports no subtrees."""
    import re

    from hypertrace_ingester_spark import datagen
    from hypertrace_ingester_spark.operators import parse as P
    from hypertrace_ingester_spark.plans.pipeline import hot_chain

    path = str(tmp_path / "seq")
    datagen.generate_sequences(spark, 200, partitions=2).write.parquet(path)
    ctx, rules = datagen.default_dims(spark)
    limit = int(spark.conf.get("spark.sql.codegen.hugeMethodLimit"))
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        routed = hot_chain(ctx, rules, P.DEFAULT_DROP).apply(spark.read.parquet(path))
        code = spark._jvm.PythonSQLUtils.explainString(routed._jdf.queryExecution(), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    sizes = [int(s) for s in re.findall(r"== Subtree \d+ / \d+ \(maxMethodCodeSize:(\d+);", code)]
    assert limit == 8000
    assert len(sizes) == 1 and sizes[0] > limit, sizes
