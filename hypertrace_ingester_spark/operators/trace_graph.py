"""Per-trace graph operators — faithful ApiTraceGraph + view walks.

Reference semantics implemented here (all cited against /root/reference):

- **ApiNode partitioning** (`hypertrace-trace-enricher-api/.../trace/util/
  ApiTraceGraph.java:155-273`): every *entry API boundary* span heads a
  node and BFS-claims descendants; an exit-API-boundary child is added to
  the node but NOT expanded; an entry-API-boundary child starts its own
  node; root EXIT spans (orphan/broken traces) head their own nodes;
  spans not reachable under these rules belong to NO node.
- **ApiNode edges** (`ApiTraceGraph.java:275-366`): an edge per
  (member exit-API-boundary span → its entry-API-boundary child). The
  entry→entry "proxy" branch at :347 looks up the destination node with an
  Event key in a ByteBuffer-keyed map and therefore never matches — it is
  dead code in the reference, so no ENTRY_TO_ENTRY edges are emitted here
  either (kept faithful rather than "fixed").
- **SpanEventView ancestor walks** (`hypertrace-view-generator/.../
  generators/SpanEventViewGenerator.java:77-125, 155-327`): api_trace_id =
  nearest self-or-ancestor entry-API-boundary span; api_trace_count = 1 on
  that head only; display entity/span names resolved through the
  exit-span → callee-API-entry map built by walking each exit boundary's
  ancestral exit chain (last-writer-wins over span order, including null
  callees — HashMap.put semantics).
- **ServiceCallView 4 scenarios** (`generators/ServiceCallViewGenerator
  .java:57-88, 233-418`): (a) one row per ApiNode edge (error = OR,
  exceptions = sum, times from the entry side), (b) root entry boundaries
  (no incoming edge), (c) member exit boundaries with no outgoing edge
  (backends; composed request URL), (d) entry-less ApiNodes' exits walked
  to distinct *real* roots (empty event-ref list — broken-parent spans
  excluded).
- **RawServiceView** (`generators/RawServiceViewGenerator.java:25-105`):
  one row per ApiNode head span, num_calls = 1 iff the head is ENTRY,
  transaction name = api_name of the trace's earliest ENTRY span
  (`TransactionNameEnricher.java:24-49`).

Spark design (SURVEY §7 hard-part 1): a trace is SMALL (≤ thousands of
spans, capped upstream by the G3 row cap), so a walk is plain-Python
dict/BFS work per trace. Traces are many and small, though, and a
grouped-map UDF (``groupBy(...).applyInPandas``) pays ~7 ms per group to
build and convert one pandas frame each way — 150 traces cost ~1 s of a
~2 s query for ~0.3 s of walking. So every walk runs in ONE
``mapInArrow`` call per partition (``_walk``): the spans are
hash-clustered on (tenant_id, trace_id) and sorted within each partition
into event order, each Arrow batch becomes Python lists once, is cut
into per-trace runs, and the walks append plain row tuples that leave as
one Arrow batch per input batch. A trace cut by a batch boundary is
carried into the next batch. The only shuffle is that hash partition; at
1000-executor scale it is the exact analog of the reference's
trace-keyed Kafka partitioning, and AQE still picks the partition count.
No driver-side loops, no distributed graph engine.
"""

from __future__ import annotations

from collections import deque

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Columns the shared per-trace state reads; each walk adds the columns its
# own rows read, and only those cross the Arrow boundary.
_STATE_COLS = [
    "tenant_id", "trace_id", "span_id", "parent_span_id", "ts_ms", "kind",
    "is_entry_api", "is_exit_api",
]

API_NODES_SCHEMA = (
    "tenant_id long, trace_id long, span_id long, head_span_id long, "
    "node_depth long, is_node_head boolean"
)

API_EDGES_SCHEMA = (
    "tenant_id long, trace_id long, src_head_span_id long, dst_head_span_id long, "
    "src_span_id long, dst_span_id long"
)

SPAN_EVENT_SCHEMA = (
    "tenant_id long, trace_id long, span_id long, api_trace_id long, "
    "api_trace_count long, display_entity_name string, display_span_name string"
)

SERVICE_CALL_SCHEMA = (
    "tenant_id long, trace_id long, scenario string, client_span_id long, "
    "server_span_id long, caller_service string, callee_service string, "
    "callee_backend string, request_url string, error_count long, "
    "exception_count long, duration_ms long"
)

RAW_SERVICE_SCHEMA = (
    "tenant_id long, trace_id long, span_id long, parent_span_id long, "
    "service string, api_name string, kind string, start_ms long, end_ms long, "
    "duration_ms long, status_code long, error_count long, exception_count long, "
    "num_calls long, transaction_name string"
)

_ARROW_TYPES = {"long": pa.int64(), "boolean": pa.bool_(), "string": pa.string()}


class _TraceState:
    """One trace's adjacency + ApiTraceGraph state (ViewGeneratorState.java
    analog: built once, shared by every view generator).

    ``cols`` maps column name → list of values for a batch of key-sorted
    spans; the trace is rows ``[lo, hi)``, already in event order
    (ts_ms, span_id). Column values stay in the batch lists — ``v`` reads
    them by row index, so no per-trace copy of the wide columns is made."""

    def __init__(self, cols: dict, lo: int, hi: int):
        self.col = cols
        self.tenant, self.trace = cols["tenant_id"][lo], cols["trace_id"][lo]
        self.order = cols["span_id"][lo:hi]
        self.row = {sid: i for i, sid in enumerate(self.order, lo)}
        self.kind = dict(zip(self.order, cols["kind"][lo:hi]))
        self.parent: dict = {}
        self.children: dict = {}
        for sid, pid in zip(self.order, cols["parent_span_id"][lo:hi]):
            if pid in self.row:
                self.parent[sid] = pid
                self.children.setdefault(pid, []).append(sid)
        # children in event order (ts, id) — the rows are pre-sorted
        self.is_entry_api = dict(zip(self.order, cols["is_entry_api"][lo:hi]))
        self.is_exit_api = dict(zip(self.order, cols["is_exit_api"][lo:hi]))
        # node/edge state is built lazily: the SpanEventView walks need only
        # the parent/boundary dicts, so they skip the BFS entirely

    def v(self, col, sid):
        return self.col[col][self.row[sid]]

    @property
    def member(self) -> dict:
        if not hasattr(self, "_member"):
            self._build_nodes()
        return self._member

    @property
    def heads(self) -> list:
        if not hasattr(self, "_member"):
            self._build_nodes()
        return self._heads

    @property
    def node_members(self) -> dict:
        if not hasattr(self, "_member"):
            self._build_nodes()
        return self._node_members

    @property
    def edges(self) -> list:
        if not hasattr(self, "_edges"):
            self._build_edges()
        return self._edges

    @property
    def entry_with_incoming(self) -> set:
        if not hasattr(self, "_edges"):
            self._build_edges()
        return self._entry_with_incoming

    @property
    def exit_with_outgoing(self) -> set:
        if not hasattr(self, "_edges"):
            self._build_edges()
        return self._exit_with_outgoing

    # -- ApiTraceGraph.java:155-273 ------------------------------------
    def _build_nodes(self) -> None:
        self._member: dict = {}   # span_id -> (head_span_id, depth)
        self._heads: list = []
        self._node_members: dict = {}  # head -> [span_id]

        def claim(head) -> None:
            self._heads.append(head)
            members = [head]
            self._member[head] = (head, 0)
            q = deque([(head, 0)])
            while q:
                sid, depth = q.popleft()
                for child in self.children.get(sid, ()):  # event order
                    if self.is_entry_api[child]:
                        continue  # new boundary — child heads its own node
                    if child in self._member:
                        continue
                    self._member[child] = (head, depth + 1)
                    members.append(child)
                    if not self.is_exit_api[child]:
                        q.append((child, depth + 1))
                    # exit boundary children join the node but are not expanded
            self._node_members[head] = members

        for sid in self.order:
            if self.is_entry_api[sid]:
                claim(sid)
        for sid in self.order:  # orphan roots: only EXIT roots become heads
            if sid not in self._member and sid not in self.parent and self.kind[sid] == "EXIT":
                claim(sid)
        # anything else (e.g. UNSPECIFIED roots, spans below an exit
        # boundary) stays nodeless — ApiTraceGraph.java:202-214.

    # -- ApiTraceGraph.java:275-366 ------------------------------------
    def _build_edges(self) -> None:
        self._edges: list = []  # (src_head, dst_head, src_exit, dst_entry)
        self._entry_with_incoming: set = set()
        self._exit_with_outgoing: set = set()
        for head in self.heads:
            for sid in self.node_members[head]:
                if not self.is_exit_api[sid]:
                    continue
                for child in self.children.get(sid, ()):
                    if self.is_entry_api[child]:
                        self._edges.append((head, child, sid, child))
                        self._exit_with_outgoing.add(sid)
                        self._entry_with_incoming.add(child)

    # -- SpanEventViewGenerator.java:77-125 ----------------------------
    def exit_to_callee_entry(self) -> dict:
        """exit span → callee API-entry span (or None), last-writer-wins in
        span order — HashMap.put semantics incl. null values."""
        out: dict = {}
        for x in self.order:
            if not self.is_exit_api[x]:
                continue
            callee = None
            for child in self.children.get(x, ()):  # first in event order
                if self.is_entry_api[child]:
                    callee = child
                    break
            cur = x
            while cur is not None and self.kind[cur] != "ENTRY":
                if self.kind[cur] == "EXIT":
                    out[cur] = callee
                cur = self.parent.get(cur)
        return out

    def api_entry_ancestor(self, sid):
        """EnrichedSpanUtils.getApiEntrySpan: self if entry boundary, else
        nearest ancestor entry boundary, else None. Memoized: the whole
        ancestor chain resolves in one pass, so a full-trace sweep is
        O(spans), not O(spans × depth)."""
        memo = getattr(self, "_entry_anc", None)
        if memo is None:
            memo = self._entry_anc = {}
        path = []
        cur = sid
        found = None
        while cur is not None:
            if cur in memo:
                found = memo[cur]
                break
            if self.is_entry_api[cur]:
                found = cur
                break
            path.append(cur)
            cur = self.parent.get(cur)
        for p in path:
            memo[p] = found
        return found

    def root_ancestor(self, sid):
        cur = sid
        while cur in self.parent:
            cur = self.parent[cur]
        return cur

    def transaction_name(self):
        """TransactionNameEnricher.java:24-49 — api_name of the earliest
        ENTRY span (event order = (ts, id))."""
        for sid in self.order:
            if self.kind[sid] == "ENTRY":
                return self.v("api_name", sid)
        return None


def _trace_starts(cols: dict) -> list:
    """Row offsets where a new (tenant_id, trace_id) run begins in a
    key-sorted batch. Plain equality on the raw values, so null keys form
    one run, as ``groupBy`` groups them."""
    tenant, trace = cols["tenant_id"], cols["trace_id"]
    if not trace:
        return []
    return [0] + [
        i for i in range(1, len(trace))
        if trace[i] != trace[i - 1] or tenant[i] != tenant[i - 1]
    ]


def _walk(spans: DataFrame, cols: list, per_trace, schema: str) -> DataFrame:
    """Run ``per_trace(state, emit)`` on every trace, one Python call per
    partition.

    The spans are hash-clustered on (tenant_id, trace_id) with no explicit
    partition count, so AQE still picks it, and sorted within each
    partition into event order: every trace arrives as one contiguous run,
    already sorted. Each Arrow batch becomes Python lists once and is cut
    into runs on the key lists. The last run may continue in the next
    batch, so it is carried over and prepended to it; at most one batch
    plus one trace is held, the bound a grouped-map UDF gives. The walk
    emits plain row tuples in ``schema`` order, and each input batch
    yields one output batch."""
    fields = [f.split() for f in schema.split(", ")]
    out_schema = pa.schema([(name, _ARROW_TYPES[ty]) for name, ty in fields])

    def to_batch(rows: list) -> pa.RecordBatch:
        columns = list(zip(*rows)) if rows else [()] * len(fields)
        return pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, out_schema)],
            schema=out_schema,
        )

    def per_partition(batches):
        carry = None
        for batch in batches:
            data = batch.to_pydict()
            if carry is not None:
                data = {c: carry[c] + v for c, v in data.items()}
            starts = _trace_starts(data)
            if not starts:
                continue
            rows: list = []
            for lo, hi in zip(starts, starts[1:]):
                per_trace(_TraceState(data, lo, hi), rows.append)
            carry = {c: v[starts[-1]:] for c, v in data.items()}
            yield to_batch(rows)
        if carry is not None:
            rows = []
            per_trace(_TraceState(carry, 0, len(carry["span_id"])), rows.append)
            yield to_batch(rows)

    # "No parent" is the -1 sentinel the spans domain uses for broken refs,
    # so a null parent and a -1 parent are the same root to every walk (any
    # parent id not present in the trace is one). Within a trace, a null
    # ts_ms or span_id sorts last.
    clustered = (
        spans.select(*cols)
        .withColumn("parent_span_id", F.coalesce(F.col("parent_span_id"), F.lit(-1).cast("long")))
        .repartition("tenant_id", "trace_id")
        .sortWithinPartitions(
            "tenant_id", "trace_id", F.asc_nulls_last("ts_ms"), F.asc_nulls_last("span_id")
        )
    )
    return clustered.mapInArrow(per_partition, schema)


# -- per-trace walks: each appends row tuples in its schema's order --------


def _api_node_rows(st: _TraceState, emit) -> None:
    for sid, (head, depth) in st.member.items():
        emit((st.tenant, st.trace, sid, head, depth, sid == head))


def _api_edge_rows(st: _TraceState, emit) -> None:
    for sh, dh, sx, de in st.edges:
        emit((st.tenant, st.trace, sh, dh, sx, de))


def _span_event_rows(st: _TraceState, emit) -> None:
    callee_map = st.exit_to_callee_entry()
    for sid in st.order:
        kind = st.kind[sid]
        entry = st.api_entry_ancestor(sid)
        callee = callee_map.get(sid)
        service = st.v("service", sid)
        # display_entity_name — SpanEventViewGenerator.java:262-287
        if kind != "EXIT":
            display_entity = service
        elif callee is not None:
            display_entity = st.v("service", callee)
        else:
            be = st.v("backend_name", sid)
            display_entity = be if be else service
        # display_span_name — SpanEventViewGenerator.java:289-312
        if kind == "ENTRY":
            display_span = st.v("api_name", sid)
        elif kind == "EXIT":
            if callee is not None:
                display_span = st.v("api_name", callee)
            else:
                bp = st.v("backend_path", sid)
                display_span = bp if bp else st.v("op_name", sid)
        else:
            display_span = st.v("op_name", sid)
        emit((st.tenant, st.trace, sid, entry, 1 if entry == sid else 0,
              display_entity, display_span))


def _service_call_rows(st: _TraceState, emit) -> None:
    def row(scenario, client=None, server=None, caller_service=None,
            callee_service=None, callee_backend=None, request_url=None,
            error=0, exc=0, duration=0):
        emit((st.tenant, st.trace, scenario, client, server, caller_service,
              callee_service, callee_backend, request_url, error, exc, duration))

    # (a) one row per ApiNode edge — ServiceCallViewGenerator.java:95-150
    for _, _, src, dst in st.edges:
        err = 1 if (st.v("error_count", src) + st.v("error_count", dst)) > 0 else 0
        exc = st.v("exception_count", src) + st.v("exception_count", dst)
        row("EDGE", client=src, server=dst,
            caller_service=st.v("service", src),
            callee_service=st.v("service", dst),
            error=err, exc=exc, duration=st.v("duration_ms", dst))

    # (b) root entries: entry boundaries with no incoming edge (:233-262)
    for sid in st.order:
        if st.is_entry_api[sid] and sid not in st.entry_with_incoming:
            row("ROOT_ENTRY", server=sid,
                callee_service=st.v("service", sid),
                error=1 if st.v("error_count", sid) > 0 else 0,
                exc=st.v("exception_count", sid),
                duration=st.v("duration_ms", sid))

    # (c) backends: member exit boundaries with no outgoing edge (:270-344)
    for head in st.heads:
        for sid in st.node_members[head]:
            if not st.is_exit_api[sid] or sid in st.exit_with_outgoing:
                continue
            be = st.v("backend_name", sid)
            url = None
            if be:  # backend entity resolved → composed request URL
                bp = st.v("backend_path", sid)
                url = "http://" + be + (bp if bp else "")
            row("BACKEND", client=sid,
                caller_service=st.v("service", sid),
                callee_backend=be, request_url=url,
                error=1 if st.v("error_count", sid) > 0 else 0,
                exc=st.v("exception_count", sid),
                duration=st.v("duration_ms", sid))

    # (d) entry-less nodes → distinct real root ancestors (:352-418)
    seen_roots = set()
    for head in st.heads:
        if st.is_entry_api[head]:
            continue
        for sid in st.node_members[head]:
            if not st.is_exit_api[sid]:
                continue
            root = st.root_ancestor(sid)
            if root in seen_roots:
                continue
            seen_roots.add(root)
            if st.v("has_parent_ref", root):
                continue  # broken span, not a real root
            row("NON_ENTRY_ROOT", server=root,
                callee_service=st.v("service", root),
                error=1 if st.v("error_count", root) > 0 else 0,
                exc=st.v("exception_count", root),
                duration=st.v("duration_ms", root))


def _raw_service_rows(st: _TraceState, emit) -> None:
    txn = st.transaction_name()
    for head in st.heads:
        kind = st.kind[head]
        emit((st.tenant, st.trace, head, st.parent.get(head),
              st.v("service", head), st.v("api_name", head), kind,
              st.v("start_ms", head), st.v("end_ms", head),
              st.v("duration_ms", head), st.v("status_code", head),
              st.v("error_count", head), st.v("exception_count", head),
              1 if kind == "ENTRY" else 0, txn))


def api_nodes(spans: DataFrame) -> DataFrame:
    """Span → ApiNode membership (node identity = head span id)."""
    return _walk(spans, _STATE_COLS, _api_node_rows, API_NODES_SCHEMA)


def api_edges(spans: DataFrame) -> DataFrame:
    """ApiNode→ApiNode edges through exit→entry parent-child pairs."""
    return _walk(spans, _STATE_COLS, _api_edge_rows, API_EDGES_SCHEMA)


def span_event_walks(spans: DataFrame) -> DataFrame:
    """Per-span SpanEventView ancestor-walk columns: api_trace_id,
    api_trace_count, display entity/span names."""
    cols = _STATE_COLS + ["service", "api_name", "op_name", "backend_name", "backend_path"]
    return _walk(spans, cols, _span_event_rows, SPAN_EVENT_SCHEMA)


def service_call_edges(spans: DataFrame) -> DataFrame:
    """ServiceCallView's 4-scenario union per trace."""
    cols = _STATE_COLS + [
        "service", "backend_name", "backend_path", "error_count",
        "exception_count", "duration_ms", "has_parent_ref",
    ]
    return _walk(spans, cols, _service_call_rows, SERVICE_CALL_SCHEMA)


def raw_service_view(spans: DataFrame) -> DataFrame:
    """One row per ApiNode head span — RawServiceViewGenerator.java:25-105."""
    cols = _STATE_COLS + [
        "service", "api_name", "start_ms", "end_ms", "duration_ms",
        "status_code", "error_count", "exception_count",
    ]
    return _walk(spans, cols, _raw_service_rows, RAW_SERVICE_SCHEMA)


def span_boundary_types(spans: DataFrame) -> DataFrame:
    """Relational boundary classification — the join-only subset
    (ApiBoundaryTypeAttributeEnricher.java:65-121): an ENTRY span is an API
    entry iff its parent is missing, not ENTRY, or in another service; an
    EXIT span is an API exit iff it has no children or an ENTRY child.
    Self-join on span_id = parent_span_id; stays fully JVM-side."""
    s = spans.alias("s")
    p = spans.select(
        F.col("span_id").alias("p_span_id"),
        F.col("trace_id").alias("p_trace_id"),
        F.col("kind").alias("parent_kind"),
        F.col("service").alias("parent_service"),
    ).alias("p")
    with_parent = s.join(
        p,
        (F.col("s.parent_span_id") == F.col("p.p_span_id"))
        & (F.col("s.trace_id") == F.col("p.p_trace_id")),
        "left",
    )
    child_stats = (
        spans.filter(F.col("parent_span_id").isNotNull())
        .groupBy(F.col("trace_id").alias("c_trace_id"), F.col("parent_span_id").alias("c_parent"))
        .agg(
            F.count(F.lit(1)).alias("n_children"),
            F.max(F.when(F.col("kind") == "ENTRY", 1).otherwise(0)).alias("has_entry_child"),
        )
    )
    with_children = with_parent.join(
        child_stats,
        (F.col("s.span_id") == F.col("c_parent")) & (F.col("s.trace_id") == F.col("c_trace_id")),
        "left",
    )
    is_api_entry = (F.col("s.kind") == "ENTRY") & (
        F.col("parent_kind").isNull()
        | (F.col("parent_kind") != "ENTRY")
        | (F.col("parent_service") != F.col("s.service"))
    )
    is_api_exit = (F.col("s.kind") == "EXIT") & (
        F.col("n_children").isNull() | (F.col("has_entry_child") == 1)
    )
    return with_children.select(
        "s.tenant_id", "s.trace_id", "s.span_id",
        F.coalesce(is_api_entry, F.lit(False)).alias("is_api_entry"),
        F.coalesce(is_api_exit, F.lit(False)).alias("is_api_exit"),
    )
