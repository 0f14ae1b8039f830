"""Deterministic synthetic-table generator (FIXTURES.md F1/F3).

All randomness is derived JVM-side from ``xxhash64(id, salt, seed)`` so the
tables are bit-identical across runs, partitions, and parallelism levels —
no Python RNG, no driver-side loops; generation scales linearly with cores
(the same generator produces the 10^12-row-shaped bench table).

The per-row synthetic ``source_line`` gives the parse stage real grok work
(span-normalizer/.../HttpFieldsGenerator.java analog per FIXTURES.md F1):
  ts=<epoch_ms> tenant=<t> op=<op> status=<code> url=/api/v<v>/<name>?q=<i>&lang=<l> bypass=<b>
~1%% of rows have a missing tenant (dropped-row path, TenantIdHandler.java:29-81
analog), ~2%% match the DNF drop rule (SpanFilter.java:123-155 analog), ~1%%
match the bypass predicate (ByPassPredicate.java:28-44 analog).
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.enrich import EnrichContext, local_dim
from .schemas import (
    ENDPOINTS_SCHEMA,
    ROUTE_RULES_SCHEMA,
    SERVICES_SCHEMA,
    STATUS_CODES_SCHEMA,
)

SEED = 42
VOCAB = 50257
MAX_TOKENS = 4096
N_SOURCES = 8
N_TENANTS = 5
N_OPS = 12
EPOCH_BASE_MS = 1_700_000_000_000

# zipf-ish cumulative weights over 8 sources: src-0 ≈ 40% (hot key — exercises
# salting, mirrors hot-tenant isolation in SpanNormalizer.java:72-80).
_SOURCE_CUM = [40, 58, 70, 79, 86, 92, 97, 100]
_STATUS_CUM = [(70, "200"), (80, "301"), (90, "404"), (96, "500"), (100, "503")]


def _h(col: Column, salt: int) -> Column:
    """Deterministic uniform non-negative hash of (col, salt, SEED)."""
    return F.pmod(F.xxhash64(col, F.lit(salt), F.lit(SEED)), F.lit(2**31)).cast("long")


def _pick_cum(h_pct: Column, cum_pairs: list[tuple[int, Column]]) -> Column:
    expr = None
    for bound, value in cum_pairs:
        cond = h_pct < bound
        expr = F.when(cond, value) if expr is None else expr.when(cond, value)
    return expr


def generate_sequences(spark: SparkSession, n_rows: int, partitions: int | None = None) -> DataFrame:
    """F1 `sequences` table: (doc_id, tokens, n_tok, source, source_line)."""
    partitions = partitions or max(8, spark.sparkContext.defaultParallelism)
    df = spark.range(0, n_rows, numPartitions=partitions)

    h_ntok = _h(F.col("id"), 1)
    h_src = _h(F.col("id"), 2) % 100
    h_misc = _h(F.col("id"), 3) % 100
    h_status = _h(F.col("id"), 4) % 100

    # zipf-skewed token count: exponent uniform 0..12 → heavy short tail,
    # rare 4096-token rows (exercises histogram buckets + per-row size skew).
    exponent = (h_ntok % 13).cast("int")
    base = F.pow(F.lit(2.0), exponent).cast("long")
    n_tok = F.least(base + _h(F.col("id"), 5) % F.greatest(base, F.lit(1)), F.lit(MAX_TOKENS)).cast("int")

    source = _pick_cum(
        h_src, [(b, F.format_string("src-%d", F.lit(i))) for i, b in enumerate(_SOURCE_CUM)]
    )
    tenant = F.when(h_misc == 7, F.lit("")).otherwise(
        F.format_string("tenant-%d", (F.col("id") % N_TENANTS).cast("int"))
    )
    op = F.when(h_misc.isin(11, 12), F.lit("healthcheck")).otherwise(
        F.format_string("op-%d", (_h(F.col("id"), 6) % N_OPS).cast("int"))
    )
    bypass = F.when(h_misc == 13, F.lit("true")).otherwise(F.lit("false"))
    status = _pick_cum(h_status, [(b, F.lit(v)) for b, v in _STATUS_CUM])
    ts_ms = F.lit(EPOCH_BASE_MS) + (_h(F.col("id"), 7) % 86_400_000)
    lang = F.element_at(
        F.array(*[F.lit(x) for x in ["en", "es", "fr", "de", "zh"]]),
        ((_h(F.col("id"), 8) % 5) + 1).cast("int"),
    )

    df = (
        df.withColumn("doc_id", F.format_string("doc-%012d", "id"))
        .withColumn("n_tok", n_tok)
        .withColumn(
            "tokens",
            F.transform(
                F.sequence(F.lit(1), n_tok),
                lambda p: F.pmod(F.xxhash64(F.col("id"), p, F.lit(SEED)), F.lit(VOCAB)).cast("int"),
            ),
        )
        .withColumn("source", source)
        .withColumn(
            "source_line",
            F.format_string(
                "ts=%d tenant=%s op=%s status=%s url=/api/v%d/%s?q=%d&lang=%s bypass=%s",
                ts_ms,
                tenant,
                op,
                status,
                (_h(F.col("id"), 9) % 2 + 1).cast("int"),
                op,
                F.col("id"),
                lang,
                bypass,
            ),
        )
        .drop("id")
    )
    return df.select("doc_id", "tokens", "n_tok", "source", "source_line")


def endpoints_dim(spark: SparkSession) -> DataFrame:
    """F3.1 endpoints dim — EndpointEnricher analog (enrichers/endpoint/EndpointEnricher.java:55-130)."""
    rows = [
        (f"tenant-{t}", op, f"api-{t}-{i}", f"api_{op}")
        for t in range(N_TENANTS)
        for i, op in enumerate([f"op-{j}" for j in range(N_OPS)] + ["healthcheck"])
    ]
    return local_dim(spark, rows, ENDPOINTS_SCHEMA)


def services_dim(spark: SparkSession) -> DataFrame:
    """F3.2 services dim — DefaultServiceEntityEnricher analog."""
    rows = [(f"tenant-{t}", f"svc-{t}", f"service-{t:04d}") for t in range(N_TENANTS)]
    return local_dim(spark, rows, SERVICES_SCHEMA)


def route_rules_dim(spark: SparkSession) -> DataFrame:
    """F3.3 route rules: 8 sources → 3 sinks — per-view topic analog
    (hypertrace-view-generator/.../view-gen-*/application.conf)."""
    rows = [(f"src-{i}", f"sink-{i % 3}") for i in range(N_SOURCES)]
    return local_dim(spark, rows, ROUTE_RULES_SCHEMA)


def status_codes_dim(spark: SparkSession) -> DataFrame:
    """F3.4 status-code dim — HttpCodeMapper analog (enrichers/util/HttpCodeMapper.java)."""
    rows = [
        ("200", "SUCCESS", "OK"),
        ("301", "SUCCESS", "Moved Permanently"),
        ("404", "FAIL", "Not Found"),
        ("500", "FAIL", "Internal Server Error"),
        ("503", "FAIL", "Service Unavailable"),
    ]
    return local_dim(spark, rows, STATUS_CODES_SCHEMA)


# one default (context, route rules) per session; see default_dims
_DEFAULT_DIMS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def default_dims(spark: SparkSession) -> tuple[EnrichContext, DataFrame]:
    """The default enrichment context (F3.1/F3.2/F3.4 dims) and route rules
    (F3.3), built once per ``SparkSession`` and reused by every call that
    passes none of its own. Reuse is what makes the context's memos pay
    off: the composite dim is collected and the parse → enrich → route
    chain built once per session, not once per pipeline call. A new
    session (``spark.newSession()``) builds its own. The dims' DataFrames
    refer back to their session, so in practice an entry is kept for the
    life of the process; sessions are few and long-lived."""
    dims = _DEFAULT_DIMS.get(spark)
    if dims is None:
        ctx = EnrichContext(endpoints=endpoints_dim(spark), services=services_dim(spark),
                            status_codes=status_codes_dim(spark))
        dims = _DEFAULT_DIMS[spark] = (ctx, route_rules_dim(spark))
    return dims
