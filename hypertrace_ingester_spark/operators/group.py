"""GROUP stage — raw-spans-grouper analog (SURVEY.md §2.3, G1-G5).

The reference buffers spans per (tenant, trace) in RocksDB and emits a
StructuredTrace after a 30s inactivity gap via a throttled punctuator
(raw-spans-grouper/.../RawSpansProcessor.java:186-247,
TraceEmitPunctuator.java:94-196). On bounded input the state store collapses
into declarative grouping:

- session assembly  = gap-based sessionization with window functions (one
  shuffle on the group key, whole-stage codegen'd — no Python);
- per-group caps    = row_number() <= cap (G3, RawSpansProcessor.java:347-388);
- span-id dedup     = collect_set / count(distinct) (G2,
  TraceEmitPunctuator.java:123-150);
- trace assembly    = groupBy().agg(collect_list(struct(...)), min, max) (G5).

Scale notes: every op here shuffles exactly once on (tenant-analog, group
key). Hot groups are bounded by the cap; AQE splits skewed partitions. The
window functions sort within partitions only — no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SESSION_GAP_MS = 30 * 60 * 1000  # analog of span.groupby.session.window.interval


def sessionize(
    df: DataFrame,
    group_col: str | list[str] = "user_id",
    ts_ms_col: str = "ts_ms",
    tiebreak_col: str = "event_id",
    gap_ms: int = SESSION_GAP_MS,
) -> DataFrame:
    """G1 session-window assembly: rows within ``gap_ms`` of the previous row
    (per group) share a session; a larger gap starts a new one.

    Exactly the reference's inactivity-gap semantics
    (RawSpansProcessor.java:186-247) expressed with lag + running sum —
    the batch-equivalent of ``session_window`` (which we use in the
    streaming path, see streaming/jobs.py). ``group_col`` may be a composite
    key (the reference keys state by (tenant, trace_id)); when the input is
    a table bucketed on that key the window needs no Exchange
    (sources/bucketing.py, P17).
    """
    group_cols = [group_col] if isinstance(group_col, str) else list(group_col)
    w = Window.partitionBy(*group_cols).orderBy(ts_ms_col, tiebreak_col)
    prev = F.lag(ts_ms_col).over(w)
    new_session = F.when(
        prev.isNull() | ((F.col(ts_ms_col) - prev) > gap_ms), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(
        "session_idx",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("int"),
    )


def session_summary(
    df: DataFrame,
    group_col: str | list[str] = "user_id",
    ts_ms_col: str = "ts_ms",
) -> DataFrame:
    """Close each session into one row — the emit side of the punctuator
    (TraceEmitPunctuator.java:116-196): bounded input ⇒ every window is
    closed, so emit is a plain aggregate."""
    group_cols = [group_col] if isinstance(group_col, str) else list(group_col)
    return (
        df.groupBy(*group_cols, "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_ms_col).alias("session_start_ms"),
            F.max(ts_ms_col).alias("session_end_ms"),
        )
    )


def session_emit_capped(
    df: DataFrame,
    cap: int,
    group_col: str = "user_id",
    ts_ms_col: str = "ts_ms",
    tiebreak_col: str = "event_id",
    gap_ms: int = SESSION_GAP_MS,
) -> DataFrame:
    """G1+G3+G2 in the reference's actual order (RawSpansProcessor stores at
    most ``cap`` spans per trace, then the punctuator emits the capped
    trace): sessionize, keep the first ``cap`` rows per session, close each
    session with a truncation flag. ``session_end_ms`` is the last KEPT
    row's timestamp — truncated sessions end at their cap, exactly like the
    reference's emitted traces (RawSpansProcessor.java:347-388,
    TraceEmitPunctuator.java:116-196). Same single shuffle on the group key
    (the window and the aggregate share the partitioning)."""
    sess = sessionize(df, group_col, ts_ms_col, tiebreak_col, gap_ms)
    w = Window.partitionBy(group_col, "session_idx").orderBy(ts_ms_col, tiebreak_col)
    ranked = sess.withColumn("_rn", F.row_number().over(w))
    return ranked.groupBy(group_col, "session_idx").agg(
        F.sum(F.when(F.col("_rn") <= cap, 1).otherwise(0)).cast("long").alias("n_events"),
        F.min(ts_ms_col).alias("session_start_ms"),
        F.max(F.when(F.col("_rn") <= cap, F.col(ts_ms_col))).alias("session_end_ms"),
        (F.max("_rn") > cap).alias("truncated"),
    )


def group_distinct_stats(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """G2 dedup semantics: distinct member count per group
    (array_distinct(collect_list(span_id)) analog, TraceEmitPunctuator.java:123-150).
    count(distinct) is a two-phase partial aggregate — no collect on driver."""
    return df.groupBy(group_col).agg(
        F.countDistinct(value_col).alias("n_distinct"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def assemble_groups(
    df: DataFrame,
    group_cols: list[str],
    ts_ms_col: str = "ts_ms",
    member_cols: list[str] | None = None,
) -> DataFrame:
    """G5 StructuredTrace building: one row per group carrying the ordered
    member list + trace-level start/end/counts (StructuredTraceBuilder
    analog, invoked at TraceEmitPunctuator.java:156-158).

    ``sort_array`` on (ts, members) structs gives a deterministic member
    order regardless of shuffle nondeterminism — required for golden-file
    stability (SURVEY.md §7 risk 6).
    """
    member_cols = member_cols or [c for c in df.columns if c not in group_cols]
    struct_cols = [ts_ms_col] + [c for c in member_cols if c != ts_ms_col]
    return (
        df.groupBy(*group_cols)
        .agg(
            F.sort_array(F.collect_list(F.struct(*struct_cols))).alias("members"),
            F.count(F.lit(1)).alias("n_members"),
            F.min(ts_ms_col).alias("start_ms"),
            F.max(ts_ms_col).alias("end_ms"),
        )
    )


def peer_ip_correlation(
    spans,
    tuple_cols=("tenant_id", "env", "host_addr", "peer_addr", "peer_port"),
    client_kind: str = "EXIT",
    server_kind: str = "ENTRY",
):
    """Peer-service correlation on the composite IP-tuple key
    (raw-spans-grouper/.../RawSpansProcessor.java:249-333).

    Client spans publish PeerIdentity(tenant, environment, host_addr,
    peer_addr, peer_port) → their service name; server spans look up with
    the addresses SWAPPED (their peer addr as host_addr, their host addr as
    peer_addr, their host port as the port) and stamp PEER_SERVICE_NAME.
    Tuples with any null member are invalid (IpIdentityValidator) and
    neither publish nor match. The reference's state store is last-writer-
    wins; batch determinism picks the max span_id per tuple (documented
    divergence from arrival order, which is undefined in batch).

    One broadcast/shuffle hash join keyed by the 5-tuple — the exact
    relational form of the RocksDB keyed lookup; AQE broadcasts the client
    dim while it fits.
    """
    from pyspark.sql import functions as F

    t, e, h, p, pp = tuple_cols
    valid = None
    for c in (t, e, h, p, pp):
        cond = F.col(c).isNotNull()
        valid = cond if valid is None else valid & cond
    clients = (
        spans.filter((F.col("kind") == client_kind) & valid)
        .groupBy(t, e, h, p, pp)
        .agg(F.max_by("service", "span_id").alias("peer_service"))
        .select(
            F.col(t).alias("c_t"), F.col(e).alias("c_e"),
            F.col(h).alias("c_h"), F.col(p).alias("c_p"),
            F.col(pp).alias("c_pp"), "peer_service",
        )
    )
    servers = spans.filter((F.col("kind") == server_kind) & valid)
    # swapped-key join: server.(peer_addr, host_addr, host_port) against
    # client.(host_addr, peer_addr, peer_port)
    cond = (
        (servers[t] == F.col("c_t"))
        & (servers[e] == F.col("c_e"))
        & (servers[p] == F.col("c_h"))   # server peer == client host
        & (servers[h] == F.col("c_p"))   # server host == client peer
        & (servers[pp] == F.col("c_pp"))
    )
    return servers.join(clients, cond, "left").select(
        t, "trace_id", "span_id", "service", "peer_service"
    )


def latency_samples(spans, sample_hex_chars: str = "0123",
                    trace_col: str = "trace_id"):
    """G6 — dataflow latency sampling (raw-spans-grouper/.../utils/
    TraceLatencyMeter.java): per sampled (tenant, trace), the end-to-end
    latency between the first span's start and the last span's end (the
    batch analog of span-arrival → trace-creation lag). The reference
    samples with Math.random() per trace; batch determinism samples by the
    first hex digit of md5(tenant:trace) — same expected rate
    (len(chars)/16), reproducible in any engine. Tenant-scoped throughout:
    trace ids are only unique per tenant."""
    from pyspark.sql import functions as F

    agg = spans.groupBy("tenant_id", trace_col).agg(
        F.min("start_ms").alias("first_start_ms"),
        F.max("end_ms").alias("last_end_ms"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    key = F.concat_ws(":", F.col("tenant_id").cast("string"), F.col(trace_col).cast("string"))
    digit = F.substring(F.md5(key), 1, 1)
    return agg.filter(digit.isin(*list(sample_hex_chars))).select(
        "tenant_id", trace_col,
        (F.col("last_end_ms") - F.col("first_start_ms")).alias("e2e_latency_ms"),
        F.col("n_spans").cast("long").alias("n_spans"),
    )


def tail_sample(
    spans: DataFrame,
    latency_threshold_ms: int = 800,
    sample_hex_chars: str = "0123",
    trace_col: str = "trace_id",
) -> DataFrame:
    """Tail-based trace sampling — the keep/drop decision made per TRACE,
    after the whole trace is visible (the OpenTelemetry collector's
    tailsamplingprocessor policy model; the reference delegates retention
    to downstream topic/store configs, and its only in-pipeline sampler is
    the G6 latency meter this composes with, TraceLatencyMeter.java). A
    trace is kept by the FIRST matching policy, priority-ordered:

    1. ``error`` — any span errored (``error_count > 0``) or returned a
       5xx status;
    2. ``latency`` — end-to-end trace latency ≥ ``latency_threshold_ms``;
    3. ``probabilistic`` — deterministic hash sample of the remainder:
       first hex digit of md5(tenant:trace) in ``sample_hex_chars``
       (expected rate len(chars)/16 — the same engine-portable sampler as
       :func:`latency_samples`, so the DuckDB oracle restates it exactly).

    Returns every span of every kept trace, plus the trace's
    ``sample_reason``. Interesting traces survive whole — the property
    head-based (per-span, decision-at-arrival) sampling cannot give.

    Scale: one partial-agg'd shuffle keyed by (tenant, trace) builds the
    narrow per-trace decision frame (3 columns), then the keep set joins
    back on the SAME key — co-partitioned with the aggregate, so the join
    reuses the exchange; no second shuffle family, no driver collect. At
    100 TB the decision frame is ~trace-count rows (two orders smaller
    than spans) and never carries span payload.
    """
    has_error = F.max(span_has_error().cast("int")) == 1
    agg = spans.groupBy("tenant_id", trace_col).agg(
        has_error.alias("_has_error"),
        (F.max("end_ms") - F.min("start_ms")).alias("_e2e_ms"),
    )
    reason = tail_decision(
        F.col("_has_error"), F.col("_e2e_ms"), F.col("tenant_id"),
        F.col(trace_col), latency_threshold_ms, sample_hex_chars,
    )
    decisions = (
        agg.select(
            "tenant_id", trace_col, reason.alias("sample_reason")
        ).where(F.col("sample_reason").isNotNull())
    )
    return spans.join(decisions, ["tenant_id", trace_col])


def span_has_error():
    """The single definition of "this span errored" used by BOTH tail
    sampling faces (batch :func:`tail_sample` and
    ``streaming.streaming_tail_decisions``): errored if the span recorded
    any error events (``error_count > 0``) or returned a 5xx status.
    Hoisted here (review find) so the error semantics cannot drift between
    batch and stream the way the policy ladder (:func:`tail_decision`)
    already guards against."""
    return (F.col("error_count") > 0) | (F.col("status_code") >= 500)


def tail_decision(
    has_error, e2e_ms, tenant, trace,
    latency_threshold_ms: int = 800,
    sample_hex_chars: str = "0123",
):
    """The tail-sampling policy ladder as a reusable column expression —
    ONE definition shared by the batch join-back (:func:`tail_sample`) and
    the streaming decision stream (``streaming.streaming_tail_decisions``),
    so both faces keep/drop identical traces by construction. First match
    wins: error > latency > deterministic md5 probabilistic."""
    key = F.concat_ws(":", tenant.cast("string"), trace.cast("string"))
    digit = F.substring(F.md5(key), 1, 1)
    return (
        F.when(has_error, "error")
        .when(e2e_ms >= latency_threshold_ms, "latency")
        .when(digit.isin(*list(sample_hex_chars)), "probabilistic")
    )
