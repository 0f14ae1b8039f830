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
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Driver-side cap on the composite dim (tenants x operations x status
# codes). It is collected once per context and broadcast to every task, so
# an open-world dim must fail loudly here, not OOM the driver.
COMPOSITE_DIM_MAX_ROWS = 100_000
COMPOSITE_KEY = ["tenant_id", "operation", "status_code"]
# enrichment columns that come from dim lookups (nulled for bypass rows)
DIM_COLS = ("api_id", "api_name", "service_id", "service_name", "status_message")


class DimTooLargeError(ValueError):
    """A dim table meant to be collected and broadcast exceeds its row bound."""


@dataclass
class EnrichContext:
    """Broadcast dim tables available to enrichers (F3 fixtures).

    Pass JVM-local dims (a table read from storage, or
    ``createDataFrame(<pyarrow Table>)`` as ``datagen`` builds them): a
    ``createDataFrame(<python list>)`` dim plans as a Python-RDD scan that
    every job touching it re-runs through Python workers.

    The context memoises what is built from it: :meth:`enrichment` (the
    composite dim, collected once, and the post-join expressions) and, in
    ``chain_memo``, the one parse → enrich → route chain that
    ``plans.pipeline.hot_chain`` last built over it. Reuse one context
    across micro-batches so both are built once."""

    endpoints: DataFrame | None = None
    services: DataFrame | None = None
    status_codes: DataFrame | None = None
    chain_memo: Any = field(default=None, init=False, repr=False, compare=False)
    _enrichment: Enrichment | None = field(default=None, init=False, repr=False, compare=False)

    def enrichment(self) -> Enrichment:
        """The :class:`Enrichment` for the current dims, built on first use
        and again only when a dim attribute is reassigned."""
        dims = (self.endpoints, self.services, self.status_codes)
        memo = self._enrichment
        if memo is None or any(a is not b for a, b in zip(memo.dims, dims)):
            memo = self._enrichment = Enrichment.build(self)
        return memo


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


def error_count(status_state: Column) -> Column:
    """1 for a FAIL status, else 0."""
    return F.when(status_state == "FAIL", F.lit(1)).otherwise(F.lit(0))


@DEFAULT_REGISTRY.register("errors", depends_on=("api_status",))
def error_enricher(df: DataFrame, ctx: EnrichContext) -> DataFrame:
    """ErrorsAndExceptionsEnricher per-row part (ErrorsAndExceptionsEnricher.java:44-98):
    error flag/count derived from FAIL status."""
    return df.withColumn("error_count", error_count(F.col("status_state")))


def token_bucket() -> Column:
    """Length bucket of ``n_tok`` per FIXTURES.md F4."""
    return (
        F.when(F.col("n_tok") <= 16, "1-16")
        .when(F.col("n_tok") <= 64, "17-64")
        .when(F.col("n_tok") <= 256, "65-256")
        .when(F.col("n_tok") <= 1024, "257-1024")
        .otherwise("1025-4096")
    )


@DEFAULT_REGISTRY.register("token_stats")
def token_stats_enricher(df: DataFrame, ctx: EnrichContext) -> DataFrame:
    """Token-domain enrichment (graft-specific): length bucket per
    FIXTURES.md F4 (1-16, 17-64, 65-256, 257-1024, 1025-4096).

    NOTE: the content fingerprint (xxhash64 over the token array) is NOT
    computed here — hashing the full payload per row costs more than the
    rest of the parse+enrich stage combined (interpreted array-hash path);
    dedup flows add it on demand via :func:`token_fingerprint`."""
    return df.withColumn("tok_bucket", token_bucket())


def token_fingerprint(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Content fingerprint for exact dedup over token sequences: xxhash64 of
    the token array (stable, JVM-side). Kept OUT of the hot pipeline path —
    see token_stats_enricher note."""
    return df.withColumn("tok_fingerprint", F.xxhash64(F.col(tokens_col)))


def lang_param() -> Column:
    """The ``lang`` query parameter."""
    return F.element_at(F.col("query_params"), F.lit("lang"))


@DEFAULT_REGISTRY.register("lang", depends_on=("endpoint",))
def lang_enricher(df: DataFrame, ctx: EnrichContext) -> DataFrame:
    """HttpAttributeEnricher analog (enrichers/HttpAttributeEnricher.java:38-101):
    promote a query param into a first-class enriched attribute."""
    return df.withColumn("lang", lang_param())


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

    This is the lazy join; :class:`Enrichment` collects it once per context
    into a JVM-local table, so batches never re-run it. The dims should be
    JVM-local too (see :class:`EnrichContext`)."""
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


def collect_local(dim: DataFrame, max_rows: int, name: str, hint: str) -> DataFrame:
    """``dim`` collected to the driver and re-created as a JVM-local table
    (``LocalTableScan``), so later queries read it with exact size stats
    and none of its upstream plan. One job fetches at most ``max_rows + 1``
    rows; a larger dim raises :class:`DimTooLargeError` (ending with
    ``hint``, what to do instead) rather than truncating."""
    table = dim.limit(max_rows + 1).toArrow()
    if table.num_rows > max_rows:
        raise DimTooLargeError(
            f"{name} has more than {max_rows} rows ({table.num_rows} collected "
            f"before stopping; bound {max_rows}): it is too large to collect and "
            f"broadcast — {hint}"
        )
    return dim.sparkSession.createDataFrame(table, schema=dim.schema)


@dataclass(frozen=True, eq=False)
class Enrichment:
    """Everything enrichment needs, built once per :class:`EnrichContext`
    (:meth:`EnrichContext.enrichment`): the composite dim as a JVM-local
    broadcast table, and the column expressions that run after its join.
    Applying it to a batch is one join and two ``withColumns``.

    ``dim`` is ``None`` when a dim is missing; the sequential registry then
    stands in for the join.

    Open-world safety: the composite key is (tenant, operation, status);
    a row whose (tenant, operation) is absent from the endpoint dim misses
    the WHOLE composite row, which would silently null its status columns
    (the sequential registry stamps status from the independent code dim).
    status_state therefore coalesces to the code-class heuristic and
    error_count derives from the final state, so status/error enrichment
    never depends on endpoint-dim coverage. api/service/status_message do
    require dim coverage — identical to the sequential left joins."""

    ctx: EnrichContext
    dims: tuple[DataFrame | None, ...]
    dim: DataFrame | None
    # enrich_fused's and enrich_with_bypass's column layers after the join
    # (one ``withColumns`` each): status first, then the columns that
    # derive from the final status
    fused: list[dict[str, Column]]
    with_bypass: list[dict[str, Column]]

    @classmethod
    def build(cls, ctx: EnrichContext) -> Enrichment:
        dim = composite_dim(ctx)
        heuristic = status_state_heuristic()
        status = F.col("status_state")
        if dim is not None:
            dim = F.broadcast(collect_local(
                dim, COMPOSITE_DIM_MAX_ROWS, "composite enrichment dim",
                "use the sequential registry (enrich) for open-world dims"))
            status = F.coalesce(status, heuristic)
        derived = {"error_count": error_count(F.col("status_state")),
                   "tok_bucket": token_bucket(), "lang": lang_param()}
        # bypass rows skip the enricher DAG in the reference
        # (SpanNormalizer.java:66-70): dim columns nulled, status re-derived
        # from the raw code class
        enriched = ~F.col("is_bypass")
        bypass = {c: F.when(enriched, F.col(c)) for c in DIM_COLS}
        bypass["status_state"] = F.when(enriched, status).otherwise(heuristic)
        return cls(ctx, (ctx.endpoints, ctx.services, ctx.status_codes), dim,
                   [{"status_state": status}, derived], [bypass, derived])

    def join(self, df: DataFrame) -> DataFrame:
        """``df`` with the dim-lookup columns: the composite broadcast join,
        or the sequential registry when a dim is missing."""
        if self.dim is None:
            return enrich(df, self.ctx)
        return df.join(self.dim, on=COMPOSITE_KEY, how="left")

    def apply(self, alive: DataFrame) -> DataFrame:
        """:func:`enrich_with_bypass` with the prebuilt parts."""
        out = self.join(alive)
        for layer in self.with_bypass:
            out = out.withColumns(layer)
        return out


def enrich_fused(df: DataFrame, ctx: EnrichContext) -> DataFrame:
    """Payload-friendly enrichment: one composite broadcast join + the
    non-join enrichers (error flag, token bucket, lang) as projections
    (see :class:`Enrichment`). Falls back to the sequential registry when
    any dim is missing."""
    e = ctx.enrichment()
    if e.dim is None:
        return enrich(df, ctx)
    out = e.join(df)
    for layer in e.fused:
        out = out.withColumns(layer)
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
    the raw code class; error_count follows the final status_state. Uses
    the context's memoised :class:`Enrichment`."""
    return ctx.enrichment().apply(alive)
