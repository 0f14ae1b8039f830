"""ENRICH stage tests — registry topo order + broadcast-join physical plan."""

import graphlib

import pytest
from pyspark.sql import functions as F

from hypertrace_ingester_spark import datagen
from hypertrace_ingester_spark.operators import enrich as E
from hypertrace_ingester_spark.operators import parse as P


@pytest.fixture(scope="module")
def enriched(spark, sequences):
    kept, _ = P.split_parsed(P.parse_sequences(sequences))
    ctx = E.EnrichContext(
        endpoints=datagen.endpoints_dim(spark),
        services=datagen.services_dim(spark),
        status_codes=datagen.status_codes_dim(spark),
    )
    return E.enrich(kept, ctx).cache()


def test_topo_order_respects_deps():
    order = [e.name for e in E.DEFAULT_REGISTRY.topo_order()]
    assert order.index("api_status") < order.index("errors")
    assert order.index("endpoint") < order.index("lang")


def test_cycle_detection():
    reg = E.EnrichmentRegistry()
    reg.register("a", depends_on=("b",))(lambda df, ctx: df)
    reg.register("b", depends_on=("a",))(lambda df, ctx: df)
    with pytest.raises(graphlib.CycleError):
        reg.topo_order()


def test_endpoint_join_stamps_api(enriched):
    # every kept row has a known (tenant, op) in the endpoints dim
    assert enriched.filter(F.col("api_id").isNull()).count() == 0
    row = enriched.filter(F.col("operation") == "op-3").select("api_name").first()
    assert row.api_name == "api_op-3"


def test_status_state(enriched):
    bad = enriched.filter(
        (F.col("status_code").isin("404", "500", "503")) & (F.col("status_state") != "FAIL")
    )
    assert bad.count() == 0
    assert enriched.filter((F.col("status_state") == "FAIL") & (F.col("error_count") != 1)).count() == 0


def test_token_bucket_bounds(enriched):
    bad = enriched.filter(
        ((F.col("tok_bucket") == "1-16") & (F.col("n_tok") > 16))
        | ((F.col("tok_bucket") == "1025-4096") & (F.col("n_tok") <= 1024))
    )
    assert bad.count() == 0


def test_joins_are_broadcast(enriched):
    """Physical-plan check: every enrichment join must be a BroadcastHashJoin —
    no shuffle in the enrich stage (SURVEY.md §2.7)."""
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fused_equals_sequential(spark, sequences):
    """enrich_fused (one composite broadcast join) must produce the same
    rows as the sequential registry on covered dims."""
    from pyspark.sql import functions as F

    from hypertrace_ingester_spark import datagen
    from hypertrace_ingester_spark.operators import enrich as enrich_ops
    from hypertrace_ingester_spark.operators import parse as parse_ops

    ctx = enrich_ops.EnrichContext(
        endpoints=datagen.endpoints_dim(spark),
        services=datagen.services_dim(spark),
        status_codes=datagen.status_codes_dim(spark),
    )
    parsed = parse_ops.parse_sequences(sequences)
    alive = parsed.filter(F.col("has_tenant") & ~F.col("is_dropped")).select(
        *parse_ops.PARSE_OUTPUT_COLS
    )
    seq_out = enrich_ops.enrich(alive, ctx)
    fused_out = enrich_ops.enrich_fused(alive, ctx)
    assert sorted(seq_out.columns) == sorted(fused_out.columns)
    cols = sorted(c for c in seq_out.columns if c != "tokens")
    a = seq_out.select(*cols).orderBy("doc_id").toPandas()
    b = fused_out.select(*cols).orderBy("doc_id").toPandas()
    assert a.equals(b)


def test_datagen_dims_are_jvm_local_with_declared_schemas(spark, sequences):
    """The datagen dims keep their declared schemas, and parse -> enrich ->
    route over them plans no Python-RDD scan and no sort-merge join. A
    ``createDataFrame(<python list>)`` dim (or a silent Arrow fallback to
    one) re-scans through Python workers on every job and, with no size
    estimate, shuffles the composite-dim join."""
    from hypertrace_ingester_spark import schemas
    from hypertrace_ingester_spark.operators import route as R

    dims = {
        "endpoints": (datagen.endpoints_dim(spark), schemas.ENDPOINTS_SCHEMA),
        "services": (datagen.services_dim(spark), schemas.SERVICES_SCHEMA),
        "status_codes": (datagen.status_codes_dim(spark), schemas.STATUS_CODES_SCHEMA),
        "route_rules": (datagen.route_rules_dim(spark), schemas.ROUTE_RULES_SCHEMA),
    }
    for name, (df, declared) in dims.items():
        assert df.schema == declared, name
    ctx = E.EnrichContext(endpoints=dims["endpoints"][0], services=dims["services"][0],
                          status_codes=dims["status_codes"][0])
    parsed = P.parse_sequences(sequences)
    alive = parsed.filter(F.col("has_tenant") & ~F.col("is_dropped")).select(
        *P.PARSE_OUTPUT_COLS)
    routed = R.route(E.enrich_with_bypass(alive, ctx), dims["route_rules"][0])
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert "SortMergeJoin" not in plan


def test_composite_dim_collect_is_bounded(spark, sequences, monkeypatch):
    """The composite dim (5 tenants x 13 operations x 5 codes = 325 rows)
    is collected once with a row bound: at the bound it enriches, one row
    under it raises a named error giving the rows seen and the bound."""
    alive = P.parse_sequences(sequences).filter(P.alive_predicate()).select(
        *P.PARSE_OUTPUT_COLS)

    def ctx():
        return E.EnrichContext(endpoints=datagen.endpoints_dim(spark),
                               services=datagen.services_dim(spark),
                               status_codes=datagen.status_codes_dim(spark))

    monkeypatch.setattr(E, "COMPOSITE_DIM_MAX_ROWS", 325)
    assert E.enrich_with_bypass(alive, ctx()).count() == alive.count()
    monkeypatch.setattr(E, "COMPOSITE_DIM_MAX_ROWS", 324)
    with pytest.raises(E.DimTooLargeError, match=r"more than 324 rows \(325 collected"):
        E.enrich_with_bypass(alive, ctx())
