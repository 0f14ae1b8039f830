"""Query catalog — every implemented operator (SURVEY.md §2 + training-data
extensions) as a named (Spark DataFrame builder, DuckDB oracle SQL) pair.

This is the correctness-gate surface consumed by ``__spark_entry__.py``: the
driver runs each Spark query and its oracle side-by-side at sf=0.01 and
compares row counts, schemas, and order-insensitive value hashes. Column
names and types are aligned on both sides (integrals → bigint, doubles
rounded) so the hashes are comparable.

Conventions:
- every callable takes (spark, sf_dir) and returns a DataFrame;
- oracle SQL runs on DuckDB views named after the parquet tables;
- queries whose semantics aren't SQL-expressible (MinHash-LSH, SimHash,
  hyperplane ANN) carry no oracle — the driver records a rows-only check.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.numeric import round_half_up
from .operators import dedup as dd
from .operators import group as grp
from .operators import parse as parse_ops
from .operators import route as route_ops
from .operators import similarity as sim
from .operators import text as txt
from .operators import views as vw
from .sources import load_table


@dataclass(frozen=True)
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None → rows-only check
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: Optional[str], doc: str = ""):
    def deco(fn):
        REGISTRY[name] = QueryDef(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def _events(spark, sf_dir) -> DataFrame:
    """events + normalized epoch-ms timestamp + extracted JSON attr
    (EventBuilder.java:41-45 ms normalization; JaegerHTTagsConverter analog
    for the attribute bag)."""
    return (
        load_table(spark, sf_dir, "events")
        .withColumn("ts_ms", F.unix_millis(F.col("ts").cast("timestamp")))
        .withColumn("k_val", F.get_json_object("props", "$.k").cast("long"))
    )


_EVENTS_SQL = (
    "SELECT *, epoch_ms(ts) AS ts_ms, "
    "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val FROM events"
)


# ---------------------------------------------------------------------------
# PARSE stage (SURVEY.md §2.2)
# ---------------------------------------------------------------------------

@register(
    "p_parse_props",
    f"""
    SELECT event_id, event_type, k_val, ts_ms
    FROM ({_EVENTS_SQL})
    """,
    doc="P1/P8/P14 — attribute-bag parse + timestamp normalization "
        "(JaegerSpanPreProcessor.java:66-128, EventBuilder.java:30-118).",
)
def p_parse_props(spark, sf_dir):
    return _events(spark, sf_dir).select("event_id", "event_type", "k_val", "ts_ms")


@register(
    "p_drop_filter",
    f"""
    SELECT event_id, event_type, round(value, 2) AS value_r
    FROM ({_EVENTS_SQL})
    WHERE NOT (
      event_type = 'error'
      OR (event_type = 'click' AND starts_with(CAST(k_val AS VARCHAR), '9'))
    )
    """,
    doc="P5 — DNF drop-criteria compiled to one boolean Column "
        "(SpanFilter.java:123-155 semantics via parse.DropCriteria).",
)
def p_drop_filter(spark, sf_dir):
    df = _events(spark, sf_dir).withColumn("k_str", F.col("k_val").cast("string"))
    criteria = parse_ops.DropCriteria(
        criteria=(
            (parse_ops.Cond("event_type", "EQ", "error"),),
            (
                parse_ops.Cond("event_type", "EQ", "click"),
                parse_ops.Cond("k_str", "STARTS_WITH", "9"),
            ),
        )
    )
    return df.filter(~criteria.to_column()).select(
        "event_id", "event_type", F.round("value", 2).alias("value_r")
    )


@register(
    "p_exclude_rules",
    f"""
    SELECT event_id, event_type, k_val
    FROM ({_EVENTS_SQL})
    WHERE NOT (event_type = 'view'
               AND (COALESCE(k_val < 10, FALSE) OR COALESCE(k_val >= 90, FALSE)))
    """,
    doc="P6 — exclude-rule AST (AND/OR tree) compiled recursively to a "
        "Catalyst Column (ExcludeSpanRuleEvaluator.java:42-115).",
)
def p_exclude_rules(spark, sf_dir):
    df = _events(spark, sf_dir)
    rule = {
        "type": "and",
        "children": [
            {"type": "rel", "field": "event_type", "op": "EQ", "value": "view"},
            {
                "type": "or",
                "children": [
                    {"type": "rel", "field": "k_lo", "op": "EQ", "value": "1"},
                    {"type": "rel", "field": "k_hi", "op": "EQ", "value": "1"},
                ],
            },
        ],
    }
    df = df.withColumn("k_lo", F.when(F.col("k_val") < 10, "1").otherwise("0")).withColumn(
        "k_hi", F.when(F.col("k_val") >= 90, "1").otherwise("0")
    )
    return df.filter(~parse_ops.compile_rule_tree(rule)).select(
        "event_id", "event_type", "k_val"
    )


@register(
    "p_first_matching_key",
    """
    SELECT event_id,
           COALESCE(json_extract_string(props, '$.missing'),
                    json_extract_string(props, '$.k'),
                    'none') AS first_key
    FROM events
    """,
    doc="P9 — priority-list first-matching-key extraction "
        "(FirstMatchingKeyFinder.java:11-44) as a coalesce chain.",
)
def p_first_matching_key(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    return df.select(
        "event_id",
        F.coalesce(
            F.get_json_object("props", "$.missing"),
            F.get_json_object("props", "$.k"),
            F.lit("none"),
        ).alias("first_key"),
    )


@register(
    "p_grok_extract",
    r"""
    SELECT doc_id,
           regexp_extract(text, '^(\w+)', 1) AS first_word,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
    FROM documents
    """,
    doc="P10 — grok/regex field extraction, JVM regexp_extract fast path "
        "(HttpFieldsGenerator.java:120-636 analog).",
)
def p_grok_extract(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.regexp_extract("text", r"^(\w+)", 1).alias("first_word"),
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
    )


@register(
    "p_tenant_resolution",
    """
    SELECT CAST(user_id % 5 AS BIGINT) AS tenant_id,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1
    """,
    doc="P2 — tenant resolution + keying (TenantIdHandler.java:29-81; "
        "re-key P17).",
)
def p_tenant_resolution(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    return (
        df.withColumn("tenant_id", (F.col("user_id") % 5).cast("long"))
        .groupBy("tenant_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# ---------------------------------------------------------------------------
# GROUP stage (SURVEY.md §2.3)
# ---------------------------------------------------------------------------

_SESSION_SQL = f"""
    WITH e AS ({_EVENTS_SQL}),
    flagged AS (
      SELECT user_id, event_id, ts_ms,
             CASE WHEN lag(ts_ms) OVER w IS NULL
                       OR ts_ms - lag(ts_ms) OVER w > {grp.SESSION_GAP_MS}
                  THEN 1 ELSE 0 END AS new_session
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
    ),
    sessions AS (
      SELECT user_id, event_id, ts_ms,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM flagged
    )
"""


@register(
    "g_sessionize",
    _SESSION_SQL
    + """,
    capped AS (
      SELECT user_id, session_idx, ts_ms,
             row_number() OVER (PARTITION BY user_id, session_idx
                                ORDER BY ts_ms, event_id) AS rn
      FROM sessions
    )
    SELECT user_id, session_idx,
           CAST(sum(CASE WHEN rn <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
           min(ts_ms) AS session_start_ms,
           max(CASE WHEN rn <= 5 THEN ts_ms END) AS session_end_ms,
           max(rn) > 5 AS truncated
    FROM capped GROUP BY user_id, session_idx
    """,
    doc="G1+G3+G2 — 30min-gap session assembly with the per-group span cap "
        "applied BEFORE emit, exactly the reference's store→cap→punctuate "
        "order (RawSpansProcessor.java:186-247, 347-388, "
        "TraceEmitPunctuator.java:116-196): truncated sessions end at their "
        "5th kept row and carry the truncation flag.",
)
def g_sessionize(spark, sf_dir):
    out = grp.session_emit_capped(_events(spark, sf_dir), cap=5)
    return out.withColumn("session_idx", F.col("session_idx").cast("long"))


@register(
    "g_distinct_collect",
    """
    SELECT user_id,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_distinct,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events GROUP BY user_id
    """,
    doc="G2 — span-id dedup semantics: distinct members per group "
        "(TraceEmitPunctuator.java:123-150 collect_set analog).",
)
def g_distinct_collect(spark, sf_dir):
    return grp.group_distinct_stats(load_table(spark, sf_dir, "events"), "user_id", "event_type")


# G4 peer correlation is registered as "g_peer_correlation" in
# queries_spans.py — the full composite-IP-tuple form (swapped-address
# lookup, null validation) over the spans domain subsumed the earlier
# derived-lookup toy that lived here.


# ---------------------------------------------------------------------------
# ENRICH stage (SURVEY.md §2.4) — broadcast-join lookups + classifications
# ---------------------------------------------------------------------------

@register(
    "e_broadcast_endpoint",
    """
    SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
    doc="E5 — endpoint/entity lookup as broadcast hash join "
        "(EndpointEnricher.java:55-130; dim table ≪ fact).",
)
def e_broadcast_endpoint(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "e_multihop_dims",
    """
    SELECT r.r_name AS region_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
    doc="E4/E12 — multi-hop entity enrichment chain as cascaded broadcast "
        "joins (DefaultServiceEntityEnricher + EntitySpanEnricher analogs); "
        "Catalyst broadcasts every dim, fact scanned once.",
)
def e_multihop_dims(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # Broadcast only the true dims (nation/region always; customer while it
    # fits under the threshold). orders is fact-sized — a forced broadcast
    # OOMs at 100x scale; AQE picks shuffle-hash for lineitem x orders and
    # will still broadcast it at small SF where it fits.
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "e_status_map",
    """
    WITH mapped AS (
      SELECT user_id,
             CASE event_type
               WHEN 'error' THEN 'FAIL'
               WHEN 'purchase' THEN 'SUCCESS'
               WHEN 'signup' THEN 'SUCCESS'
               WHEN 'click' THEN 'NEUTRAL'
               WHEN 'view' THEN 'NEUTRAL'
               ELSE 'UNKNOWN' END AS status_state
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS total_events,
           CAST(sum(CASE WHEN status_state = 'FAIL' THEN 1 ELSE 0 END) AS BIGINT) AS fail_events,
           CAST(sum(CASE WHEN status_state = 'SUCCESS' THEN 1 ELSE 0 END) AS BIGINT) AS success_events,
           CAST(sum(CASE WHEN status_state = 'NEUTRAL' THEN 1 ELSE 0 END) AS BIGINT) AS neutral_events,
           CAST(max(CASE WHEN status_state = 'FAIL' THEN 1 ELSE 0 END) AS BIGINT) AS has_error
    FROM mapped GROUP BY user_id
    """,
    doc="E2+E7 — status-code → state mapping via broadcast code table "
        "(ApiStatusEnricher.java:38-133, HttpCodeMapper analog), rolled up "
        "to per-trace error/success totals exactly as the errors enricher "
        "aggregates span statuses (ErrorsAndExceptionsEnricher.java:44-184); "
        "the per-event mapping feeds the counts, so a mapping bug breaks "
        "the hash.",
)
def e_status_map(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [(k, v) for k, v in vw.STATUS_STATE.items()], ["event_type", "status_state"]
    )
    mapped = df.join(F.broadcast(dim), on="event_type", how="left").withColumn(
        "status_state", F.coalesce("status_state", F.lit("UNKNOWN"))
    )

    def n_state(s):
        return F.sum(F.when(F.col("status_state") == s, 1).otherwise(0)).cast("long")

    return mapped.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("total_events"),
        n_state("FAIL").alias("fail_events"),
        n_state("SUCCESS").alias("success_events"),
        n_state("NEUTRAL").alias("neutral_events"),
        F.max(F.when(F.col("status_state") == "FAIL", 1).otherwise(0))
        .cast("long")
        .alias("has_error"),
    )


# E1 span-type classification is registered as "e_span_type" in
# queries_fieldgen.py — the full otel/OC/Client-flag/envoy/Sent.-Recv.
# alias cascade plus protocol detection subsumed the earlier event-type
# when-ladder that lived here. E7 error rollups merged into e_status_map
# above; E6/E14 transaction naming merged into v_raw_trace_view below.


# ---------------------------------------------------------------------------
# ROUTE stage (SURVEY.md §2.5)
# ---------------------------------------------------------------------------

_ROUTE_RULES = [
    ("signup", "sink-0"), ("purchase", "sink-0"),
    ("click", "sink-1"), ("view", "sink-1"),
    ("error", "sink-dlq"),
]

_ROUTE_CASE = (
    "CASE event_type WHEN 'signup' THEN 'sink-0' WHEN 'purchase' THEN 'sink-0' "
    "WHEN 'click' THEN 'sink-1' WHEN 'view' THEN 'sink-1' "
    "WHEN 'error' THEN 'sink-dlq' ELSE 'sink-default' END"
)


@register(
    "r_route_fanout",
    f"""
    SELECT {_ROUTE_CASE} AS sink,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
    doc="ROUTE — rule-table fan-out to sinks + per-sink aggregate counts "
        "(the north rule's routed-row invariant; view-gen per-topic configs).",
)
def r_route_fanout(spark, sf_dir):
    df = load_table(spark, sf_dir, "events").withColumnRenamed("event_type", "source")
    rules = spark.createDataFrame(_ROUTE_RULES, ["source", "sink"])
    routed = route_ops.route(df, rules)
    return routed.groupBy("sink").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "r_bypass_branch",
    """
    SELECT CASE WHEN event_type = 'error' THEN 'bypass' ELSE 'main' END AS branch,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events GROUP BY 1
    """,
    doc="P15 — bypass-predicate stream branch (ByPassPredicate.java:28-44, "
        "SpanNormalizer.java:66-70): two lineage branches over one DF.",
)
def r_bypass_branch(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    pred = F.col("event_type") == "error"
    bypass = df.filter(pred).withColumn("branch", F.lit("bypass"))
    main = df.filter(~pred).withColumn("branch", F.lit("main"))
    return bypass.unionByName(main).groupBy("branch").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


# ---------------------------------------------------------------------------
# VIEWS (SURVEY.md §2.5 V1-V6)
# ---------------------------------------------------------------------------

# V1 SpanEventView is registered as "v_span_event_view" in
# queries_spans.py — the ancestor-walk form (api_trace_id, display names
# via the exit→callee map) subsumed the flat projection that lived here;
# V4 likewise: "v_service_call_view" there carries the 4-scenario union.


@register(
    "v_raw_trace_view",
    f"""
    WITH e AS ({_EVENTS_SQL}),
    t AS (
      SELECT DISTINCT user_id,
             first_value(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)
                 AS transaction_name
      FROM e
    )
    SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           max(ts_ms) - min(ts_ms) AS duration_ms,
           round(sum(value), 2) AS total_value,
           t.transaction_name
    FROM e JOIN t ON t.user_id = e.user_id
    GROUP BY e.user_id, t.transaction_name
    """,
    doc="V3+E6/E14 — RawTraceView: one row per trace-analog "
        "(RawTraceViewGenerator.java:26-82) carrying the trace attribute "
        "from its earliest member — the transaction name / head event "
        "(TransactionNameEnricher.java:24-49, TraceStatsEnricher).",
)
def v_raw_trace_view(spark, sf_dir):
    base = vw.raw_trace_view(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    txn = (
        _events(spark, sf_dir)
        .withColumn("transaction_name", F.first("event_type").over(w))
        .select("user_id", "transaction_name")
        .distinct()
    )
    return base.join(txn, on="user_id")


@register(
    "v_service_call_rollup",
    f"""
    WITH e AS ({_EVENTS_SQL}),
    edges AS (
      SELECT user_id, event_type AS caller,
             lead(event_type) OVER w AS callee,
             lead(ts_ms) OVER w - ts_ms AS latency_ms
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
      QUALIFY callee IS NOT NULL
    )
    SELECT caller, callee, CAST(count(*) AS BIGINT) AS n_calls,
           floor(avg(latency_ms) * 100 + 0.5) / 100 AS avg_latency_ms
    FROM edges GROUP BY caller, callee
    """,
    doc="V4 rollup — caller→callee counts + mean latency.",
)
def v_service_call_rollup(spark, sf_dir):
    return vw.service_call_rollup(load_table(spark, sf_dir, "events"))


@register(
    "v_log_event_view",
    f"""
    SELECT event_id, user_id, ts_ms AS timestamp_ms,
           COALESCE(json_extract_string(props, '$.message'),
                    json_extract_string(props, '$.k'), '<empty>') AS summary,
           CAST(length(props) AS INTEGER) AS attr_bytes
    FROM ({_EVENTS_SQL})
    """,
    doc="V6 — LogEventView: summary from priority attr keys + serialized "
        "attributes (LogEventViewGenerator.java:43-111).",
)
def v_log_event_view(spark, sf_dir):
    return vw.log_event_view(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# AGGREGATE stage (SURVEY.md §2.6)
# ---------------------------------------------------------------------------

@register(
    "a_windowed_counts",
    f"""
    WITH e AS ({_EVENTS_SQL})
    SELECT ts_ms - ts_ms % 3600000 AS bucket_start_ms, event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 2) AS total_value
    FROM e GROUP BY 1, 2
    """,
    doc="A1 — windowed group-count: time-bucketed (bucket, attrs) counts "
        "(MetricsProcessor.java:75-136; 1h buckets here).",
)
def a_windowed_counts(spark, sf_dir):
    e = _events(spark, sf_dir)
    bucket = (F.col("ts_ms") - F.col("ts_ms") % 3_600_000).alias("bucket_start_ms")
    return e.groupBy(bucket, "event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "a_histogram",
    """
    SELECT event_type, CAST(floor(value / 50) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events GROUP BY 1, 2
    """,
    doc="A5 — value histogram via width-bucket binning (token-length "
        "histogram analog of the north rule).",
)
def a_histogram(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    return df.groupBy(
        "event_type", F.floor(F.col("value") / 50).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).alias("n_rows"))


@register(
    "a_percentiles",
    """
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type,
           max(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS p50,
           max(CASE WHEN rk = CAST(ceil(0.9 * n) AS BIGINT) THEN value END) AS p90,
           max(CASE WHEN rk = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99
    FROM ranked GROUP BY event_type
    """,
    doc="A5 — per-group distribution summary (TraceEmitPunctuator "
        "spans-per-trace distribution analog) as EXACT discrete quantiles: "
        "rank ceil(p·n) selected via window rank — returns a real data "
        "element, so the oracle matches bit-for-bit. percentile_approx is "
        "the 100 TB path (mergeable sketch, one shuffle, no full sort); "
        "this exact form sorts within group partitions only.",
)
def a_percentiles(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    ranked = df.withColumn("rk", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    def at(p):
        return F.max(
            F.when(F.col("rk") == F.ceil(F.lit(p) * F.col("n")).cast("long"), F.col("value"))
        )
    return ranked.groupBy("event_type").agg(
        at(0.5).alias("p50"), at(0.9).alias("p90"), at(0.99).alias("p99")
    )


@register(
    "a_operational_counters",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS received,
           CAST(sum(CASE WHEN value < 10 THEN 1 ELSE 0 END) AS BIGINT) AS low_value,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors
    FROM events GROUP BY event_type
    """,
    doc="A6 — per-tenant operational counters as conditional sums in one "
        "pass (JaegerSpanPreProcessor.java:68-96 counter instrumentation).",
)
def a_operational_counters(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("received"),
        F.sum(F.when(F.col("value") < 10, 1).otherwise(0)).cast("long").alias("low_value"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).cast("long").alias("errors"),
    )


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           floor(avg(l_quantity) * 100 + 0.5) / 100 AS avg_qty,
           floor(avg(l_extendedprice) * 100 + 0.5) / 100 AS avg_price,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shape pricing summary — the classic partial-agg shuffle "
        "benchmark; exercises map-side combine at scale.",
)
def q1_pricing_summary(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        round_half_up(F.avg("l_quantity"), 2).alias("avg_qty"),
        round_half_up(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


def q_topk_orders(spark, sf_dir):
    """Top-k by aggregate with deterministic tiebreak — TakeOrderedAndProject
    physical op (no global sort). Out of the 50-entry driver catalog (its
    plan shape is also exercised by s_knn_bruteforce's two-phase top-k);
    kept as a library query, oracle-checked in tests/test_oracle_extras.py."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Training-data ops: dedup / text / similarity (driver mandate)
# ---------------------------------------------------------------------------

@register(
    "d_exact_dedup",
    """
    SELECT md5(text) AS text_hash,
           CAST(count(*) AS BIGINT) AS n_copies,
           min(doc_id) AS keep_doc_id
    FROM documents GROUP BY 1
    """,
    doc="Exact dedup via content-hash groupBy (keep = min doc_id).",
)
def d_exact_dedup(spark, sf_dir):
    return dd.exact_dedup(load_table(spark, sf_dir, "documents"))


_STOPS_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in stops) + "]"
    for lang, stops in txt.LANG_STOPWORDS.items()
}

# PII patterns interpolated as VALUES (never inline literals in the rf-SQL:
# the regex quantifier braces would parse as f-string fields); both engines
# evaluate the identical RE2-compatible pattern text.
_PII_EMAIL = txt.PII_PATTERNS["email"]
_PII_IP = txt.PII_PATTERNS["ip"]
_PII_PHONE = txt.PII_PATTERNS["phone"]


def _script_sql_cols() -> str:
    """The script_profile gate columns as oracle SQL — generated from the
    SAME SCRIPT_CLASSES dict the Spark operator uses, so the two engines
    cannot drift (mirrors tests/test_script_profile.py's builder)."""
    cnt = {
        name: f"len(regexp_extract_all(text, '{cls}'))"
        for name, cls in txt.SCRIPT_CLASSES.items()
    }
    total = " + ".join(cnt.values())
    names = sorted(txt.SCRIPT_CLASSES)
    best = f"CASE WHEN {cnt[names[0]]} > 0 THEN {cnt[names[0]]} ELSE 0 END"
    pred = f"CASE WHEN {cnt[names[0]]} > 0 THEN '{names[0]}' ELSE 'unk' END"
    for n in names[1:]:
        pred = f"CASE WHEN {cnt[n]} > ({best}) THEN '{n}' ELSE ({pred}) END"
        best = f"CASE WHEN {cnt[n]} > ({best}) THEN {cnt[n]} ELSE ({best}) END"
    from .functions.numeric import sql_round_half_up

    conf = sql_round_half_up(f"({best}) * 1.0 / ({total})", 4)
    return (
        f"CAST({total} AS BIGINT) AS n_script_chars, {pred} AS pred_script, "
        f"CASE WHEN ({total}) > 0 THEN {conf} ELSE 0.0 END "
        f"AS script_confidence"
    )



@register(
    "d_text_profile",
    rf"""
    WITH base AS (
      SELECT doc_id, lang, text, string_split(text, ' ') AS ws FROM documents
    ),
    scored AS (
      SELECT *,
             {", ".join(
                 f"len(list_filter(ws, w -> list_contains({_STOPS_SQL[lang]}, w))) AS s_{lang}"
                 for lang in sorted(txt.LANG_STOPWORDS)
             )},
             floor(list_sum(list_transform(ws, x -> length(x))) * 1.0 / greatest(len(ws), 1) * 100 + 0.5) / 100 AS mean_word_len,
             list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                            i -> ws[i] || ' ' || ws[i+1]) AS bg
      FROM base
    )
    SELECT *, (alpha_word_frac >= 0.8 AND symbol_word_ratio <= 0.1
               AND dup_2gram_frac <= 0.2 AND dup_word_frac <= 0.5) AS gopher_keep,
           (n_email + n_ip + n_phone) = 0 AS pii_free
    FROM (
    SELECT doc_id, lang,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_est,
           CASE
             WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unk'
             WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
             WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
             WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
             ELSE 'fr' END AS pred_lang,
           mean_word_len,
           floor(s_en * 1.0 / greatest(len(ws), 1) * 1000 + 0.5) / 1000 AS stopword_ratio,
           (len(ws) >= 10 AND mean_word_len >= 2.0 AND mean_word_len <= 12.0) AS quality_keep,
           md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS doc_fp,
           CAST(len(list_distinct(list_transform(
             range(1, greatest(len(ws) - 2, 0) + 1),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS BIGINT) AS n_shingles,
           floor((len(ws) - len(list_distinct(ws))) * 1.0 / greatest(len(ws), 1) * 1000 + 0.5) / 1000 AS dup_word_frac,
           floor((len(bg) - len(list_distinct(bg))) * 1.0 / greatest(len(bg), 1) * 1000 + 0.5) / 1000 AS dup_2gram_frac,
           floor(len(regexp_extract_all(text, '[#…]|\.\.\.')) * 1.0 / greatest(len(ws), 1) * 1000 + 0.5) / 1000 AS symbol_word_ratio,
           floor(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) * 1.0 / greatest(len(ws), 1) * 1000 + 0.5) / 1000 AS alpha_word_frac,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IP}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g')) AS redacted_fp,
           {_script_sql_cols()}
    FROM scored
    )
    """,
    doc="Fused per-doc text profile — token counting (whitespace words + "
        "BPE-ish chars/4 estimate), stopword-vote language ID (argmax, "
        "deterministic tiebreak), quality features (mean word length, "
        "stopword ratio, Gopher-shape keep flag), Gopher repetition "
        "filters (duplicate-word / duplicate-2-gram fractions, symbol-to-"
        "word ratio, alpha-word fraction, composite gopher_keep — Rae et "
        "al. 2021), C4-style PII scrub (email/ip/phone counts, pii_free, "
        "md5 of the sequentially redacted text — verifying the redaction "
        "itself end-to-end), normalized md5 fingerprint, and the distinct "
        "3-gram shingle count (the primitive under MinHash/Jaccard dedup) "
        "— ONE scan of the text column (text.text_profile); at 100 TB the "
        "scan dominates, so curation metrics are computed fused, never as "
        "seven passes. Round 4: the input is threaded through the crawl "
        "FIRST MILE — each doc is wrapped as an HTML page inside a WARC "
        "response record, records are concatenated into synthetic WARC "
        "file payloads, and Spark must split the files, parse WARC+HTTP "
        "headers, strip tags/entities, and drop the injected "
        "nav/footer/script boilerplate (operators/webextract.py + "
        "sources/warc.py) to recover (doc_id, lang, text) BYTE-EXACTLY "
        "before profiling. The oracle still reads the raw documents table "
        "and hashes the raw text (redacted_fp), so the match verifies the "
        "whole WARC->HTML->text extraction end-to-end (multimodal-pattern "
        "proof; the extraction itself is pure JVM regexp column work).",
)
def d_text_profile(spark, sf_dir):
    from .operators import webextract as webx
    from .sources import widen

    docs = webx.roundtrip_documents(widen(load_table(spark, sf_dir, "documents")))
    df = txt.script_profile(txt.text_profile(docs))
    return df.select(
        "doc_id",
        "lang",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_tokens_est").cast("long").alias("n_tokens_est"),
        "pred_lang",
        "mean_word_len",
        "stopword_ratio",
        "quality_keep",
        "doc_fp",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        "dup_word_frac",
        "dup_2gram_frac",
        "symbol_word_ratio",
        "alpha_word_frac",
        "gopher_keep",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ip").cast("long").alias("n_ip"),
        F.col("n_phone").cast("long").alias("n_phone"),
        "pii_free",
        F.md5(F.col("text_redacted")).alias("redacted_fp"),
        "n_script_chars",
        "pred_script",
        "script_confidence",
    )


@register(
    "d_ngram_jaccard",
    """
    WITH w AS (
      SELECT doc_id, lang, source,
             list_distinct(list_transform(
               range(1, greatest(len(ws) - 2, 0) + 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS ws FROM documents)
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             floor(len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1.0 /
                   (len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x))))
                   * 10000 + 0.5) / 10000 AS jaccard
      FROM w a JOIN w b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.05
    """,
    doc="Exact n-gram Jaccard near-dup pairs within (lang, source) blocks — "
        "blocked self-join, never all-pairs.",
)
def d_ngram_jaccard(spark, sf_dir):
    return dd.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), block_cols=["lang", "source"], threshold=0.05
    )


@register(
    "d_minhash_lsh",
    """
    WITH w AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(ws) - 2, 0) + 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      WHERE len(ws) >= 3
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             floor(len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1.0 /
                   (len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x))))
                   * 10000 + 0.5) / 10000 AS jaccard
      FROM w a JOIN w b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.3
    """,
    doc="MinHash+LSH near-dup pairs (64 perms, 16 bands) verified with "
        "exact shingle Jaccard inside the operator, so the output is "
        "hash-independent wherever LSH recall is 1.0. FULL oracle (round-4): "
        "the oracle restates the output as the exact all-pairs Jaccard "
        "pair set at the same threshold — valid because the test corpus's "
        "near-dup pairs are bimodal (25 pairs at j>=0.9, rest at j<=0.07 at "
        "sf0.01), far above the 16-band/4-row S-curve knee where the "
        "deterministic xxhash64 banding misses with p~(1-j^4)^16 < 4e-8; "
        "equality of the two sets is what the gate now checks every round. "
        "The blocked exact counterpart is d_ngram_jaccard.",
)
def d_minhash_lsh(spark, sf_dir):
    return dd.minhash_near_dups(load_table(spark, sf_dir, "documents"), threshold=0.3)


# d_simhash full oracle (round 4, spandom pattern: share the arithmetic,
# not the engine hash). Word hash = dd.md5_word_hash — md5 halves assembled
# into the signed 64-bit pattern, verified bit-identical across engines —
# so DuckDB can restate the whole explode → per-bit vote → majority-pack
# pipeline. Production simhash keeps the cheaper xxhash64 default; the
# lane-packing/voting machinery under test is hash-agnostic.
_SH_HI = "('0x'||substr(md5(word),1,8))::BIGINT"
_SH_LO = "('0x'||substr(md5(word),9,8))::BIGINT"
_SIMHASH_SQL = f"""
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    h AS (
      SELECT doc_id,
             ({_SH_LO} + ({_SH_HI} % 2147483648) * 4294967296
              + CASE WHEN {_SH_HI} >= 2147483648 THEN -9223372036854775808 ELSE 0 END) AS h
      FROM w
    ),
    v AS (
      SELECT doc_id, COUNT(*) AS n,
             {", ".join(f"sum((h >> {b}) & 1) AS c{b}" for b in range(64))}
      FROM h GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({" + ".join(
               f"(CASE WHEN 2*c{b} > n THEN "
               + ("-9223372036854775808" if b == 63 else str(1 << b))
               + " ELSE 0 END)"
               for b in range(64)
           )} AS BIGINT) AS simhash
    FROM v
    """


@register(
    "d_simhash",
    _SIMHASH_SQL,
    doc="64-bit SimHash fingerprints (explode → packed-lane bit votes → "
        "majority). FULL oracle (round 4): word hash is the md5-derived "
        "64-bit hash both engines compute bit-identically "
        "(dedup.md5_word_hash), so DuckDB restates the entire vote/majority "
        "pipeline; production default stays JVM xxhash64 — the machinery is "
        "hash-agnostic and fixture-locked either way.",
)
def d_simhash(spark, sf_dir):
    return dd.simhash(load_table(spark, sf_dir, "documents"),
                      word_hash=dd.md5_word_hash)


@register(
    "s_knn_bruteforce",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             list_dot_product(q.qv, c.cv) /
             (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos_sim
      FROM c CROSS JOIN q
      WHERE c.neighbor_id != q.query_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    doc="Brute-force cosine top-5 per query vector (queries broadcast, "
        "two-phase top-k) — the exact ANN baseline.",
)
def s_knn_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    out = sim.cosine_topk(emb, queries, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


@register(
    "d_embed_near_dup",
    """
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    p AS (
      SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
             list_dot_product(a.e, b.e) /
             (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cos_sim
      FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    ),
    t AS (
      SELECT label, id_a, id_b, cos_sim,
             row_number() OVER (PARTITION BY label ORDER BY cos_sim DESC, id_a, id_b) AS rank
      FROM p WHERE cos_sim >= 0.0
    )
    SELECT label, id_a, id_b, CAST(rank AS BIGINT) AS rank,
           CAST(floor(cos_sim * 1000000 + 0.5) AS BIGINT) AS cos_1e6
    FROM t WHERE rank <= 5
    """,
    doc="Embedding-cosine near-dup pairs (driver-mandate dedup family): "
        "exact cosine within label blocks, top-5 candidate pairs per block "
        "— the blocked-exact reference for embedding_near_dups_lsh, whose "
        "LSH-bucketed recall is asserted in tests/test_similarity_ivf.py. "
        "Cosine doubles are bit-identical across engines (index-ordered "
        "fold vs list_dot_product), so the value hash covers the cosines "
        "themselves (micro-cosine bigint).",
)
def d_embed_near_dup(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = sim.embedding_near_dups(
        emb, block_cols=["label"], threshold=0.0, top_per_block=5
    )
    return out.select(
        "label", "id_a", "id_b",
        F.col("rank").cast("long").alias("rank"),
        F.floor(F.col("cos_sim") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long").alias("cos_1e6"),
    )


# ---------------------------------------------------------------------------
# Additional operator-parity queries
# ---------------------------------------------------------------------------

# A1 metric-key generation (MetricIdentity = hash of metric name + attr
# tuple + window, MetricsProcessor.java:129-136) is folded into
# "a_otlp_gauges" in queries_fieldgen.py — each gauge data point carries
# its md5 metric_key.


@register(
    "g_assemble_members",
    f"""
    WITH e AS ({_EVENTS_SQL})
    SELECT user_id,
           string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY ts_ms, event_id) AS member_ids,
           CAST(count(*) AS BIGINT) AS n_members,
           min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
    FROM e GROUP BY user_id
    """,
    doc="G5 — StructuredTrace assembly: ordered member list + group-level "
        "start/end (StructuredTraceBuilder analog, TraceEmitPunctuator.java"
        ":156-158); sort_array(collect_list(struct)) gives deterministic "
        "member order regardless of shuffle nondeterminism.",
)
def g_assemble_members(spark, sf_dir):
    assembled = grp.assemble_groups(
        _events(spark, sf_dir).select("user_id", "event_id", "ts_ms"),
        group_cols=["user_id"],
    )
    return assembled.select(
        "user_id",
        F.concat_ws(
            ",", F.transform(F.col("members"), lambda m: m["event_id"].cast("string"))
        ).alias("member_ids"),
        F.col("n_members").cast("long").alias("n_members"),
        "start_ms",
        "end_ms",
    )


@register(
    "e_api_boundary",
    _SESSION_SQL
    + """
    SELECT event_id, CAST(new_session = 1 AS BOOLEAN) AS is_api_entry
    FROM flagged
    """,
    doc="E3 — API-boundary detection: a record is an API entry iff its "
        "predecessor crosses the boundary (here: session head via lag; the "
        "reference walks parent spans, ApiBoundaryTypeAttributeEnricher.java"
        ":65-121).",
)
def e_api_boundary(spark, sf_dir):
    df = grp.sessionize(_events(spark, sf_dir))
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    rn = F.row_number().over(Window.partitionBy("user_id", "session_idx").orderBy("ts_ms", "event_id"))
    return df.select("event_id", (rn == 1).alias("is_api_entry"))


@register(
    "e_exit_calls",
    f"""
    WITH e AS ({_EVENTS_SQL}),
    edges AS (
      SELECT user_id, lead(event_type) OVER w AS callee
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
      QUALIFY callee IS NOT NULL
    ),
    counts AS (
      SELECT user_id, callee, count(*) AS cnt FROM edges GROUP BY user_id, callee
    )
    SELECT user_id,
           string_agg(callee || ':' || CAST(cnt AS VARCHAR), ',' ORDER BY callee) AS callee_counts,
           CAST(sum(cnt) AS BIGINT) AS total_calls
    FROM counts GROUP BY user_id
    """,
    doc="E13 — exit-call stats per api-node: callee-name→count map + total "
        "(ExitCallsEnricher.java:29-139, map_from_entries(collect_list) "
        "semantics; serialized sorted for the oracle).",
)
def e_exit_calls(spark, sf_dir):
    edges = vw.service_call_view(load_table(spark, sf_dir, "events"))
    counts = edges.groupBy("user_id", "callee").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.groupBy("user_id").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("callee", "cnt"))),
                lambda s: F.concat(s["callee"], F.lit(":"), s["cnt"].cast("string")),
            ),
        ).alias("callee_counts"),
        F.sum("cnt").cast("long").alias("total_calls"),
    )


# E8 backend-entity resolution is registered as "e_backend_classify" in
# queries_spans.py — the full 10-provider cascade (decoy keys, default-port
# strip, JDBC authority parse, FQN rejection anti-join) over the spans
# domain subsumed the event-type classification toy that lived here.


@register(
    "x_explode_words",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ws[CAST(i AS INTEGER)] AS word
    FROM w, unnest(range(1, least(len(ws), 3) + 1)) AS t(i)
    """,
    doc="P16 — explode nested collections into per-element rows "
        "(JaegerSpanToLogRecordsTransformer.java:55-107 span→logs fan-out); "
        "posexplode keeps element ordinality.",
)
def x_explode_words(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.posexplode(F.slice(F.split("text", " "), 1, 3)).alias("pos", "word"),
    )


# ---------------------------------------------------------------------------
# public accessors for __spark_entry__
# ---------------------------------------------------------------------------

# Runtime-settable SQL confs the catalog depends on, applied defensively to
# WHATEVER session the caller passes in (the driver's correctness gate builds
# its own SparkSession, not ours from session.get_spark):
# - LAST_WIN: P3 lowercase dedup produces case-duplicate map keys; Spark's
#   default policy throws (reference HashMap.put is last-wins).
# - UTC: unix_millis(ts.cast(timestamp)) must agree with DuckDB epoch_ms.
# - hugeMethodLimit: regex-heavy parse stages codegen >8KB methods the JIT
#   refuses; default Spark then runs them interpreted (~30x slower).
_SESSION_CONFS: dict[str, str] = {
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.codegen.hugeMethodLimit": "8000",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the SQL confs the catalog semantics require on the given session.

    All keys are runtime-settable SQL confs, so this works on any session
    regardless of how it was built; setting an already-correct value is a
    no-op. Failures are swallowed per-key (a locked-down session should not
    take the whole catalog with it)."""
    for k, v in _SESSION_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def _with_session_confs(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_session_confs(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_extensions()
    return {name: _with_session_confs(qd.fn) for name, qd in REGISTRY.items()}


def _load_extensions() -> None:
    """Import sibling catalog modules that register into REGISTRY (kept
    out of this module to bound file size; imported lazily to avoid a
    circular import at module load)."""
    from . import queries_fieldgen  # noqa: F401
    from . import queries_spans  # noqa: F401


def oracle_sql() -> dict[str, str]:
    _load_extensions()
    return {name: qd.oracle for name, qd in REGISTRY.items() if qd.oracle is not None}
