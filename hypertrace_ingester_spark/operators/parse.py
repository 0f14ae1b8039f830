"""PARSE stage — span-normalizer analog (SURVEY.md §2.2, P1-P17).

The reference's record-at-a-time Transformers (JaegerSpanPreProcessor.java:66-128,
EventBuilder.java:30-118, SpanFilter.java:123-155) become declarative column
expressions compiled once on the driver; Catalyst constant-folds and
whole-stage-codegens them, and predicate pushdown moves the drop filters into
the scan. Field extraction uses JVM-side ``regexp_extract`` (the fast path); a
pandas-UDF grok variant is provided for patterns that need Python regex
features — both vectorized, never per-row Python (input_hint).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Grok-style field extraction (P9/P10 analogs)
# ---------------------------------------------------------------------------

# Each field: (name, regex-with-one-group, cast). The synthetic source_line
# format is FIXTURES.md F1. Mirrors the first-matching-key / priority-list
# extraction of fieldgenerators/FirstMatchingKeyFinder.java:11-44 and the
# HTTP field extraction of fieldgenerators/HttpFieldsGenerator.java:120-636.
DEFAULT_GROK_FIELDS: list[tuple[str, str, str | None]] = [
    ("ts_ms", r"ts=(\d+)", "long"),
    ("tenant_raw", r"tenant=(\S*)", None),
    ("operation", r"op=(\S+)", None),
    ("status_code", r"status=(\d+)", None),
    ("url", r"url=(\S+)", None),
    ("bypass_raw", r"bypass=(\w+)", None),
]


def grok_columns(line_col: str = "source_line",
                 fields: list[tuple[str, str, str | None]] | None = None) -> dict[str, Column]:
    """Vectorized regex extraction via native ``regexp_extract`` (codegen'd),
    one expression per field, all reading ``line_col``.

    ``nullif`` (not a when/otherwise rewrap) keeps each regex to ONE call
    site: the CASE form evaluates the regex 2-3x per field in interpreted
    mode and triples the generated bytecode in codegen mode."""
    out = {}
    for name, pattern, cast in fields or DEFAULT_GROK_FIELDS:
        col = F.nullif(F.regexp_extract(F.col(line_col), pattern, 1), F.lit(""))
        out[name] = col.cast(cast) if cast else col
    return out


def grok_extract(df: DataFrame, line_col: str = "source_line",
                 fields: list[tuple[str, str, str | None]] | None = None) -> DataFrame:
    """Apply :func:`grok_columns` to ``df``."""
    return df.withColumns(grok_columns(line_col, fields))


def url_columns(url_col: str = "url") -> dict[str, Column]:
    """HTTP URL decomposition — HttpFieldsGenerator.java:587-612 analog.

    path (leading slash kept, trailing slash stripped), query-string params
    exploded to a map (HttpAttributeEnricher.java:38-101 analog) — all via
    built-in ``parse_url``/``str_to_map`` (JVM-side), no UDF.
    """
    full = F.concat(F.lit("http://internal"), F.col(url_col))
    path_raw = F.parse_url(full, F.lit("PATH"))
    # keep leading '/', strip trailing slashes (HttpFieldsGenerator path rules)
    path = F.when(F.length(path_raw) > 1, F.regexp_replace(path_raw, "/+$", "")).otherwise(path_raw)
    query = F.parse_url(full, F.lit("QUERY"))
    return {
        "url_path": path,
        "query_params": F.when(query.isNotNull(), F.str_to_map(query, F.lit("&"), F.lit("="))).otherwise(
            F.create_map().cast("map<string,string>")
        ),
    }


def url_fields(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Apply :func:`url_columns` to ``df``."""
    return df.withColumns(url_columns(url_col))


# ---------------------------------------------------------------------------
# Tag-map normalization (P3/P4 — JaegerSpanPreProcessor.java:100-106,
# TagsFilter.java:65-100)
# ---------------------------------------------------------------------------

def normalize_tags(df: DataFrame, tags_col: str = "attributes") -> DataFrame:
    """P3: lowercase tag keys with last-wins dedup. ``transform_keys`` +
    ``map_from_entries`` keeps it JVM-side; map_from_entries keeps the LAST
    entry for duplicate keys in Spark (matching the reference's put-into-
    HashMap last-wins)."""
    lowered = F.transform_keys(F.col(tags_col), lambda k, v: F.lower(k))
    return df.withColumn(tags_col, lowered)


def filter_tags(df: DataFrame, allowed_prefixes: list[str],
                allowlist: list[str], tags_col: str = "attributes") -> DataFrame:
    """P4 tags allowlist: keep a tag iff its key matches NO allowed prefix
    OR is explicitly allowlisted (TagsFilter.java:65-100 keep-rule)."""
    def keep(k, v):
        has_prefix = F.lit(False)
        for p in allowed_prefixes:
            has_prefix = has_prefix | k.startswith(p)
        return ~has_prefix | k.isin(allowlist)

    return df.withColumn(tags_col, F.map_filter(F.col(tags_col), keep))


def rate_limit_per_key(df: DataFrame, key_cols: list[str], order_cols: list[str],
                       limit: int) -> DataFrame:
    """P7 rate-limiting batch analog (RateLimitingSpanFilter.java:1-60):
    the token bucket collapses to 'first ``limit`` rows per key' on bounded
    input — row_number window, one shuffle on the key."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rl", F.row_number().over(w))
        .filter(F.col("_rl") <= limit)
        .drop("_rl")
    )


# ---------------------------------------------------------------------------
# Tenant resolution (P2 — jaeger/TenantIdHandler.java:29-81)
# ---------------------------------------------------------------------------

def tenant_column(tenant_col: str = "tenant_raw", default_tenant: str | None = None) -> Column:
    """Tenant from extracted field else configured static default; rows with
    no resolvable tenant get NULL (dropped downstream)."""
    raw = F.col(tenant_col)
    resolved = F.when((raw.isNotNull()) & (raw != ""), raw)
    if default_tenant is not None:
        resolved = resolved.otherwise(F.lit(default_tenant))
    return resolved


def resolve_tenant(df: DataFrame, tenant_col: str = "tenant_raw",
                   default_tenant: str | None = None) -> DataFrame:
    """Apply :func:`tenant_column` to ``df`` as ``tenant_id``."""
    return df.withColumn("tenant_id", tenant_column(tenant_col, default_tenant))


# ---------------------------------------------------------------------------
# DNF drop-filter compiler (P5 — jaeger/SpanFilter.java:123-155,193-267)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Cond:
    """One relational condition over a plain column or an attribute-map key.

    Operators mirror SpanDropFilter.java:1-62: EQ / NEQ / CONTAINS / EXISTS /
    NOT_EXISTS (plus STARTS_WITH used by exclude rules).
    """

    field: str
    op: str
    value: str | None = None
    in_map: str | None = None  # if set, field is a key of this map column

    def to_column(self) -> Column:
        target = (
            F.element_at(F.col(self.in_map), F.lit(self.field))
            if self.in_map
            else F.col(self.field)
        )
        op = self.op.upper()
        if op == "EQ":
            return target == F.lit(self.value)
        if op == "NEQ":
            # NULL-safe: a missing field is "not equal" (reference treats
            # missing tags as non-matching for EQ, matching for NEQ).
            return ~target.eqNullSafe(F.lit(self.value))
        if op == "CONTAINS":
            return target.contains(F.lit(self.value))
        if op == "STARTS_WITH":
            return target.startswith(F.lit(self.value))
        if op == "EXISTS":
            return target.isNotNull()
        if op == "NOT_EXISTS":
            return target.isNull()
        raise ValueError(f"unknown op {self.op!r}")


@dataclass(frozen=True)
class DropCriteria:
    """OR-of-AND drop criteria (DNF), SpanFilter.java:123-155 semantics:
    a row is dropped iff ANY criterion has ALL its conditions true."""

    criteria: tuple[tuple[Cond, ...], ...] = field(default_factory=tuple)

    def to_column(self) -> Column:
        if not self.criteria:
            return F.lit(False)
        ors: Column | None = None
        for conjunction in self.criteria:
            ands: Column | None = None
            for cond in conjunction:
                c = cond.to_column()
                ands = c if ands is None else (ands & c)
            assert ands is not None
            ors = ands if ors is None else (ors | ands)
        assert ors is not None
        return ors


# Exclude-rule AST (P6 — jaeger/ExcludeSpanRuleEvaluator.java:42-115):
# {"type": "and"|"or", "children": [...]} | {"type": "rel", "field", "op", "value", "in_map"?}
def compile_rule_tree(node: dict) -> Column:
    kind = node["type"].lower()
    if kind == "rel":
        return Cond(
            field=node["field"], op=node["op"], value=node.get("value"), in_map=node.get("in_map")
        ).to_column()
    children = [compile_rule_tree(c) for c in node["children"]]
    if not children:
        return F.lit(False)
    out = children[0]
    for c in children[1:]:
        out = (out & c) if kind == "and" else (out | c)
    return out


DEFAULT_DROP = DropCriteria(criteria=((Cond("operation", "EQ", "healthcheck"),),))


# ---------------------------------------------------------------------------
# Bypass predicate (P15 — rawspan/ByPassPredicate.java:28-44)
# ---------------------------------------------------------------------------

def bypass_predicate(bypass_col: str = "bypass_raw") -> Column:
    return F.coalesce(F.col(bypass_col) == "true", F.lit(False))


# ---------------------------------------------------------------------------
# Full parse stage
# ---------------------------------------------------------------------------

PARSE_OUTPUT_COLS = [
    "doc_id", "tokens", "n_tok", "source", "tenant_id", "ts_ms",
    "operation", "status_code", "url_path", "query_params", "attributes", "is_bypass",
]


def parse_layers(
    drop_criteria: DropCriteria = DEFAULT_DROP,
    exclude_rule: dict | None = None,
    default_tenant: str | None = None,
) -> list[dict[str, Column]]:
    """The parse stage as three layers of column expressions, each applied
    with one ``withColumns``: grok fields → URL fields, tenant and bypass
    flag → drop/tenant flags and the attribute map. Each layer reads only
    columns the layers before it produced, so the drop criteria see every
    extracted field (but not ``has_tenant`` or the new ``attributes``).

    Building these costs hundreds of Python→JVM round trips (every ``F.*``
    call is several), so a caller that parses many DataFrames builds them
    once and reuses them (see plans/pipeline.hot_chain); the expressions
    name columns only, so they bind to any input with ``source_line``."""
    drop_col = drop_criteria.to_column()
    if exclude_rule is not None:
        drop_col = drop_col | compile_rule_tree(exclude_rule)
    return [
        grok_columns(),
        {
            **url_columns(),
            "tenant_id": tenant_column(default_tenant=default_tenant),
            "is_bypass": bypass_predicate(),
        },
        {
            "is_dropped": F.coalesce(drop_col, F.lit(False)),
            "has_tenant": F.col("tenant_id").isNotNull(),
            "attributes": F.map_from_arrays(
                F.array(F.lit("op"), F.lit("status"), F.lit("lang")),
                F.array(
                    F.col("operation"),
                    F.col("status_code"),
                    F.element_at(F.col("query_params"), F.lit("lang")),
                ),
            ),
        },
    ]


def apply_parse(df: DataFrame, layers: list[dict[str, Column]]) -> DataFrame:
    """Run :func:`parse_layers` output over ``df``."""
    for layer in layers:
        df = df.withColumns(layer)
    return df


def alive_predicate() -> Column:
    """Rows that survive parsing: a resolved tenant and no drop match."""
    return F.col("has_tenant") & ~F.col("is_dropped")


def parse_sequences(
    df: DataFrame,
    drop_criteria: DropCriteria = DEFAULT_DROP,
    exclude_rule: dict | None = None,
    default_tenant: str | None = None,
) -> DataFrame:
    """sequences → parsed records, with per-row drop/bypass flags still attached.

    Chain: grok extract → URL fields → tenant resolve → drop-filter flags
    (:func:`parse_layers`). Mirrors JaegerSpanPreProcessor.preProcessSpan
    ordering (:100-127): cheap predicates first so Catalyst pushes them
    ahead of expensive extraction. Callers split on ``is_dropped`` /
    ``tenant_id IS NULL`` and record counters (see
    aggregate.operational_counters).
    """
    return apply_parse(df, parse_layers(drop_criteria, exclude_rule, default_tenant))


def split_parsed(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(kept, bypass) — two lineage branches over one DF (SpanNormalizer.java:66-70).

    kept = survives tenant + drop filters and is NOT bypass; bypass rows skip
    grouping/enrichment (RawSpanToStructuredTraceTransformer.java:28-44 analog).
    """
    alive = parsed.filter(alive_predicate())
    kept = alive.filter(~F.col("is_bypass")).select(*PARSE_OUTPUT_COLS)
    bypass = alive.filter(F.col("is_bypass")).select(*PARSE_OUTPUT_COLS)
    return kept, bypass
