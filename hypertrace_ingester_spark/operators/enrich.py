"""ENRICH stage — hypertrace-trace-enricher analog (SURVEY.md §2.4).

The reference runs 15 enrichers over each trace in topological order of
declared dependencies (EnrichmentProcessor.java:73-154, topo sort in
EnrichmentRegistry.java:124-159, dependency config in
hypertrace-trace-enricher/.../configs/common/application.conf:75-139). Its
entity/endpoint lookups hit remote services behind Guava caches
(enrichers/cache/EntityCache.java) — here every lookup is a **broadcast hash
join** against a small dim DataFrame, so the whole stage is shuffle-free and
codegen'd.

A registry of named column-derivation steps with dependencies is topo-sorted
and applied as one fused ``select`` chain; Catalyst collapses it into a single
projection over the broadcast joins.
"""

from __future__ import annotations

import graphlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class EnrichContext:
    """Broadcast dim tables available to enrichers (F3 fixtures).

    Pass JVM-local dims (a table read from storage, or
    ``createDataFrame(<pyarrow Table>)`` as ``datagen`` builds them): a
    ``createDataFrame(<python list>)`` dim plans as a Python-RDD scan that
    every job touching it re-runs through Python workers."""

    endpoints: DataFrame | None = None
    services: DataFrame | None = None
    status_codes: DataFrame | None = None


@dataclass(frozen=True)
class Enricher:
    name: str
    fn: Callable[[DataFrame, EnrichContext], DataFrame]
    depends_on: tuple[str, ...] = ()


@dataclass
class EnrichmentRegistry:
    """Dependency-ordered enrichment DAG (EnrichmentRegistry.java:34-37 analog)."""

    enrichers: dict[str, Enricher] = field(default_factory=dict)

    def register(self, name: str, depends_on: tuple[str, ...] = ()):
        def deco(fn: Callable[[DataFrame, EnrichContext], DataFrame]):
            self.enrichers[name] = Enricher(name, fn, depends_on)
            return fn

        return deco

    def topo_order(self) -> list[Enricher]:
        ts = graphlib.TopologicalSorter(
            {name: set(e.depends_on) for name, e in self.enrichers.items()}
        )
        order = list(ts.static_order())  # raises CycleError on cycles
        missing = [n for n in order if n not in self.enrichers]
        if missing:
            raise KeyError(f"enrichers depended on but not registered: {missing}")
        return [self.enrichers[n] for n in order]

    def apply(self, df: DataFrame, ctx: EnrichContext,
              drop_trace_col: str | None = None) -> DataFrame:
        """Run all enrichers in dependency order.

        ``drop_trace_col``: boolean column short-circuiting all enrichment for
        flagged rows (DROP_TRACE_ATTRIBUTE, EnrichmentProcessor.java:109-115)
        — those rows are filtered out before the enrichment projections.
        """
        if drop_trace_col is not None:
            df = df.filter(~F.coalesce(F.col(drop_trace_col), F.lit(False)))
        for enricher in self.topo_order():
            df = enricher.fn(df, ctx)
        return df


DEFAULT_REGISTRY = EnrichmentRegistry()


@DEFAULT_REGISTRY.register("endpoint")
def endpoint_enricher(df: DataFrame, ctx: EnrichContext) -> DataFrame:
    """EndpointEnricher analog (enrichers/endpoint/EndpointEnricher.java:55-130):
    (tenant, operation) → api_id/api_name via broadcast hash join. Left join —
    undiscovered endpoints keep NULL api_id (discovery-state analog)."""
    if ctx.endpoints is None:
        return df.withColumn("api_id", F.lit(None).cast("string")).withColumn(
            "api_name", F.lit(None).cast("string")
        )
    dim = ctx.endpoints.select("tenant_id", "operation", "api_id", "api_name")
    return df.join(F.broadcast(dim), on=["tenant_id", "operation"], how="left")


@DEFAULT_REGISTRY.register("service")
def service_enricher(df: DataFrame, ctx: EnrichContext) -> DataFrame:
    """DefaultServiceEntityEnricher analog (DefaultServiceEntityEnricher.java:47-127):
    tenant → service identity via broadcast join."""
    if ctx.services is None:
        return df.withColumn("service_id", F.lit(None).cast("string")).withColumn(
            "service_name", F.lit(None).cast("string")
        )
    dim = ctx.services.select("tenant_id", "service_id", "service_name")
    return df.join(F.broadcast(dim), on="tenant_id", how="left")


def status_state_heuristic() -> F.Column:
    """Code-class fallback (HttpCodeMapper analog): 2xx/3xx → SUCCESS,
    else FAIL. Used when no status dim exists and for rows whose dim
    lookup misses in the fused path."""
    return F.when(
        F.col("status_code").startswith("2") | F.col("status_code").startswith("3"),
        "SUCCESS",
    ).otherwise("FAIL")


@DEFAULT_REGISTRY.register("api_status")
def status_enricher(df: DataFrame, ctx: EnrichContext) -> DataFrame:
    """ApiStatusEnricher analog (enrichers/ApiStatusEnricher.java:38-133):
    status code → SUCCESS/FAIL state + message via broadcast code table
    (util/HttpCodeMapper.java analog)."""
    if ctx.status_codes is None:
        return df.withColumn("status_state", status_state_heuristic()).withColumn(
            "status_message", F.lit(None).cast("string")
        )
    dim = ctx.status_codes.select(
        F.col("code").alias("status_code"),
        F.col("state").alias("status_state"),
        F.col("message").alias("status_message"),
    )
    return df.join(F.broadcast(dim), on="status_code", how="left")


@DEFAULT_REGISTRY.register("errors", depends_on=("api_status",))
def error_enricher(df: DataFrame, ctx: EnrichContext) -> DataFrame:
    """ErrorsAndExceptionsEnricher per-row part (ErrorsAndExceptionsEnricher.java:44-98):
    error flag/count derived from FAIL status."""
    return df.withColumn(
        "error_count", F.when(F.col("status_state") == "FAIL", F.lit(1)).otherwise(F.lit(0))
    )


@DEFAULT_REGISTRY.register("token_stats")
def token_stats_enricher(df: DataFrame, ctx: EnrichContext) -> DataFrame:
    """Token-domain enrichment (graft-specific): length bucket per
    FIXTURES.md F4 (1-16, 17-64, 65-256, 257-1024, 1025-4096).

    NOTE: the content fingerprint (xxhash64 over the token array) is NOT
    computed here — hashing the full payload per row costs more than the
    rest of the parse+enrich stage combined (interpreted array-hash path);
    dedup flows add it on demand via :func:`token_fingerprint`."""
    bucket = (
        F.when(F.col("n_tok") <= 16, "1-16")
        .when(F.col("n_tok") <= 64, "17-64")
        .when(F.col("n_tok") <= 256, "65-256")
        .when(F.col("n_tok") <= 1024, "257-1024")
        .otherwise("1025-4096")
    )
    return df.withColumn("tok_bucket", bucket)


def token_fingerprint(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Content fingerprint for exact dedup over token sequences: xxhash64 of
    the token array (stable, JVM-side). Kept OUT of the hot pipeline path —
    see token_stats_enricher note."""
    return df.withColumn("tok_fingerprint", F.xxhash64(F.col(tokens_col)))


@DEFAULT_REGISTRY.register("lang", depends_on=("endpoint",))
def lang_enricher(df: DataFrame, ctx: EnrichContext) -> DataFrame:
    """HttpAttributeEnricher analog (enrichers/HttpAttributeEnricher.java:38-101):
    promote a query param into a first-class enriched attribute."""
    return df.withColumn("lang", F.element_at(F.col("query_params"), F.lit("lang")))


def enrich(df: DataFrame, ctx: EnrichContext,
           registry: EnrichmentRegistry = DEFAULT_REGISTRY) -> DataFrame:
    return registry.apply(df, ctx)


def composite_dim(ctx: EnrichContext) -> DataFrame | None:
    """Fuse the endpoint/service/status dims into ONE broadcast table keyed
    by (tenant_id, operation, status_code).

    Rationale: each broadcast join materializes the full row — with a wide
    token payload, 3 chained joins copy the payload 3x. The dims join on
    independent tiny keys, so their cross-product is still tiny (tenants x
    operations x status codes ≈ hundreds of rows) and ONE join stamps every
    enrichment column. Same columns, same values as the sequential
    registry — asserted by tests/test_enrich.py.

    Precondition: the endpoint dim covers the (tenant, operation) domain
    (true for config-derived dims, which enumerate their operations). Rows
    with an operation outside the dim get NO enrichment columns from the
    fused join (the sequential registry would still stamp service columns);
    use the registry path when dims are open-world.

    The dims should be JVM-local (see :class:`EnrichContext`): Python-RDD
    dims are re-scanned through Python workers on every job, and with no
    size estimate the outer join here plans as a shuffled sort-merge join
    instead of a broadcast."""
    if ctx.endpoints is None or ctx.services is None or ctx.status_codes is None:
        return None
    eps = ctx.endpoints.select("tenant_id", "operation", "api_id", "api_name")
    svc = ctx.services.select("tenant_id", "service_id", "service_name")
    sc = ctx.status_codes.select(
        F.col("code").alias("status_code"),
        F.col("state").alias("status_state"),
        F.col("message").alias("status_message"),
    )
    return eps.join(svc, on="tenant_id", how="outer").crossJoin(sc)


def enrich_fused(df: DataFrame, ctx: EnrichContext) -> DataFrame:
    """Payload-friendly enrichment: one composite broadcast join + the
    non-join enrichers (error flag, token bucket, lang) as projections.
    Falls back to the sequential registry when any dim is missing.

    Open-world safety: the composite key is (tenant, operation, status);
    a row whose (tenant, operation) is absent from the endpoint dim misses
    the WHOLE composite row, which would silently null its status columns
    (the sequential registry stamps status from the independent code dim).
    status_state therefore coalesces to the code-class heuristic and
    error_count derives from the final state, so status/error enrichment
    never depends on endpoint-dim coverage. api/service/status_message do
    require dim coverage — identical to the sequential left joins."""
    dim = composite_dim(ctx)
    if dim is None:
        return enrich(df, ctx)
    out = df.join(F.broadcast(dim), on=["tenant_id", "operation", "status_code"], how="left")
    out = out.withColumn(
        "status_state", F.coalesce(F.col("status_state"), status_state_heuristic())
    )
    out = error_enricher(out, ctx)
    out = token_stats_enricher(out, ctx)
    out = lang_enricher(out, ctx)
    return out


def space_ids(df: DataFrame, rules: DataFrame, tags_col: str = "tags",
              trace_col: str = "trace_id") -> DataFrame:
    """SpaceEnricher (enrichers/space/SpaceEnricher.java:40-66,
    SpaceRuleEvaluator.java): per-span space_ids = the span's values of the
    tenant's rule-selected attribute keys (non-empty, distinct); per-trace
    space_ids = distinct union over the trace's spans.

    ``rules``: (tenant_id, rule_order, attr_key) — the tenant-scoped rule
    table, broadcast-joined (the reference's config-service cache). Arrays
    are emitted SORTED for engine-independent comparison (the reference
    preserves first-occurrence order, which is arrival-dependent)."""
    from pyspark.sql import Window

    per_tenant = rules.groupBy("tenant_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rule_order", "attr_key"))),
            lambda s: s["attr_key"],
        ).alias("rule_keys")
    )
    joined = df.join(F.broadcast(per_tenant), on="tenant_id", how="left")
    values = F.transform(
        F.coalesce(F.col("rule_keys"), F.array().cast("array<string>")),
        lambda k: F.element_at(F.col(tags_col), k),
    )
    span_spaces = F.array_sort(
        F.array_distinct(F.filter(values, lambda v: v.isNotNull() & (v != "")))
    )
    out = joined.withColumn("span_space_ids", span_spaces).drop("rule_keys")
    # trace ids are only unique per tenant — the union window must key on
    # both, like every other trace-scoped operator
    w = Window.partitionBy("tenant_id", trace_col)
    return out.withColumn(
        "trace_space_ids",
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("span_space_ids").over(w)))),
    )


def entity_span_enrich(spans: DataFrame, entities: DataFrame) -> DataFrame:
    """E12 EntitySpanEnricher (enrichers/EntitySpanEnricher.java): stamp the
    registered entity relationship onto each span via a broadcast lookup on
    (tenant_id, service) — the relational form of the entity-service call
    behind its Guava cache. ``entities``: (tenant_id, service, entity_id,
    entity_type, related_entity_ids array). Left join: spans whose service
    has no registered entity keep NULLs (discovery-pending analog)."""
    dim = entities.select(
        "tenant_id", "service", "entity_id", "entity_type",
        F.array_sort(F.col("related_entity_ids")).alias("related_entity_ids"),
    )
    return spans.join(F.broadcast(dim), on=["tenant_id", "service"], how="left")


def enrich_with_bypass(alive: DataFrame, ctx: EnrichContext) -> DataFrame:
    """The pipeline hot path shared by the batch and streaming faces:
    fused enrichment, then bypass semantics — bypass rows skip the
    enricher DAG in the reference (SpanNormalizer.java:66-70), so their
    dim-lookup columns are nulled and status is EXPLICITLY re-derived from
    the raw code class; error_count follows the final status_state."""
    enriched = enrich_fused(alive, ctx)
    dim_cols = [
        c
        for c in ("api_id", "api_name", "service_id", "service_name", "status_message")
        if c in enriched.columns
    ]
    out = enriched.withColumns(
        {c: F.when(~F.col("is_bypass"), F.col(c)) for c in dim_cols}
    ).withColumn(
        "status_state",
        F.when(~F.col("is_bypass"), F.col("status_state")).otherwise(
            status_state_heuristic()
        ),
    )
    return out.withColumn(
        "error_count", F.when(F.col("status_state") == "FAIL", F.lit(1)).otherwise(F.lit(0))
    )
