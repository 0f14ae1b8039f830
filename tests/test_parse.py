"""PARSE stage unit tests — mirrors the reference's field-generator and
filter unit tests (HttpFieldsGeneratorTest.java, JaegerSpanPreProcessorTest.java,
ByPassPredicateTest.java; SURVEY.md §5)."""

from pyspark.sql import functions as F

from hypertrace_ingester_spark.operators import parse as P


def test_grok_extract_fields(spark):
    df = spark.createDataFrame(
        [("ts=1700000000123 tenant=tenant-3 op=op-7 status=404 "
          "url=/api/v2/op-7?q=55&lang=fr bypass=false",)],
        ["source_line"],
    )
    row = P.url_fields(P.grok_extract(df)).collect()[0]
    assert row.ts_ms == 1700000000123
    assert row.tenant_raw == "tenant-3"
    assert row.operation == "op-7"
    assert row.status_code == "404"
    assert row.url_path == "/api/v2/op-7"
    assert row.query_params == {"q": "55", "lang": "fr"}


def test_missing_tenant_is_null(spark):
    df = spark.createDataFrame(
        [("ts=1 tenant= op=a status=200 url=/x?q=1 bypass=false",)], ["source_line"]
    )
    row = P.resolve_tenant(P.grok_extract(df)).collect()[0]
    assert row.tenant_id is None


def test_default_tenant(spark):
    df = spark.createDataFrame(
        [("ts=1 tenant= op=a status=200 url=/x?q=1 bypass=false",)], ["source_line"]
    )
    row = P.resolve_tenant(P.grok_extract(df), default_tenant="fallback").collect()[0]
    assert row.tenant_id == "fallback"


def test_drop_criteria_dnf(spark):
    """OR-of-AND drop semantics (SpanFilter.java:123-155)."""
    df = spark.createDataFrame(
        [("healthcheck", "200"), ("op-1", "500"), ("op-1", "200"), ("healthcheck", "500")],
        ["operation", "status_code"],
    )
    crit = P.DropCriteria(
        criteria=(
            (P.Cond("operation", "EQ", "healthcheck"), P.Cond("status_code", "EQ", "200")),
            (P.Cond("status_code", "EQ", "500"),),
        )
    )
    kept = df.filter(~crit.to_column()).collect()
    assert [(r.operation, r.status_code) for r in kept] == [("op-1", "200")]


def test_rule_tree_compiler(spark):
    """Exclude-rule AST → Column (ExcludeSpanRuleEvaluator.java:42-115)."""
    df = spark.createDataFrame(
        [("a", {"k": "v1"}), ("b", {"k": "v2"}), ("c", {})],
        ["name", "attrs"],
    )
    rule = {
        "type": "or",
        "children": [
            {"type": "rel", "field": "name", "op": "EQ", "value": "c"},
            {
                "type": "and",
                "children": [
                    {"type": "rel", "field": "k", "op": "EXISTS", "in_map": "attrs"},
                    {"type": "rel", "field": "k", "op": "CONTAINS", "value": "1", "in_map": "attrs"},
                ],
            },
        ],
    }
    matched = sorted(r.name for r in df.filter(P.compile_rule_tree(rule)).collect())
    assert matched == ["a", "c"]


def test_neq_null_safe(spark):
    df = spark.createDataFrame([("x",), (None,)], ["f"])
    assert df.filter(P.Cond("f", "NEQ", "y").to_column()).count() == 2
    assert df.filter(P.Cond("f", "NEQ", "x").to_column()).count() == 1


def test_token_array_passthrough(sequences):
    """Per-row token-array equality — the cross-cutting invariant (input_hint)."""
    parsed = P.parse_sequences(sequences)
    joined = sequences.alias("in").join(parsed.alias("out"), "doc_id")
    mismatches = joined.filter(F.col("in.tokens") != F.col("out.tokens")).count()
    assert mismatches == 0
    assert parsed.count() == sequences.count()


def test_split_counts_reconcile(sequences):
    parsed = P.parse_sequences(sequences).cache()
    kept, bypass = P.split_parsed(parsed)
    total = parsed.count()
    dropped = parsed.filter(F.col("is_dropped")).count()
    no_tenant = parsed.filter(~F.col("has_tenant") & ~F.col("is_dropped")).count()
    assert kept.count() + bypass.count() + dropped + no_tenant == total
    assert bypass.count() > 0 and dropped > 0 and no_tenant > 0  # fixture rates ~1-2%
