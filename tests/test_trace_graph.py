"""ApiTraceGraph + view-walk golden tests on the spans fixture.

Fixture tree per trace (ids = 1000*(t+1)+off):
  entry(1, svc-a) ── exit(2) ── entry(3, svc-b) ── exit(4, backend be_4//bp4)
                  └─ internal(5) ── exit(6, backend be_6)
  exit root(7, svc-c): dangling parent ref on even traces, real root on odd.

Expected (ApiTraceGraph.java:155-366 semantics):
  nodes: {1,2,5,6} headed by 1 (exit 2 NOT expanded, so 3 is reached only
  as its own entry head), {3,4} headed by 3, {7} orphan exit root.
  edges: 2 → 3 only.
"""

import pytest
from helpers import spans_fixture

from hypertrace_ingester_spark.operators import trace_graph as tg


@pytest.fixture(scope="module")
def spans(spark):
    return spans_fixture(spark, n_traces=4).cache()


def _ids(base, *offs):
    return {base + o for o in offs}


def test_api_nodes_assignment(spark, spans):
    nodes = tg.api_nodes(spans).toPandas()
    one = nodes[nodes.trace_id == 1].set_index("span_id")
    assert set(one.index) == _ids(1000, 1, 2, 3, 4, 5, 6, 7)
    assert set(one[one.head_span_id == 1001].index) == _ids(1000, 1, 2, 5, 6)
    assert set(one[one.head_span_id == 1003].index) == _ids(1000, 3, 4)
    assert set(one[one.head_span_id == 1007].index) == _ids(1000, 7)
    assert bool(one.loc[1001, "is_node_head"]) and bool(one.loc[1007, "is_node_head"])
    assert not bool(one.loc[1002, "is_node_head"])
    assert one.loc[1002, "node_depth"] == 1
    assert one.loc[1006, "node_depth"] == 2  # via internal span 5


def test_api_edges(spark, spans):
    edges = tg.api_edges(spans).toPandas()
    one = edges[edges.trace_id == 2]
    assert len(one) == 1
    assert one.iloc[0]["src_span_id"] == 2002
    assert one.iloc[0]["dst_span_id"] == 2003
    assert one.iloc[0]["src_head_span_id"] == 2001
    assert one.iloc[0]["dst_head_span_id"] == 2003


def test_span_event_walks(spark, spans):
    w = tg.span_event_walks(spans).toPandas()
    one = w[w.trace_id == 1].set_index("span_id")
    # api_trace_id: nearest self-or-ancestor entry API boundary
    for off, expect in [(1, 1001), (2, 1001), (5, 1001), (6, 1001), (3, 1003), (4, 1003)]:
        assert one.loc[1000 + off, "api_trace_id"] == expect
    assert bool(one.loc[1007, "api_trace_id"] is None or one.loc[1007].isna()["api_trace_id"])
    assert one.loc[1001, "api_trace_count"] == 1
    assert one.loc[1002, "api_trace_count"] == 0
    # display entity: exit with callee -> callee service; exit w/o -> backend
    assert one.loc[1002, "display_entity_name"] == "svc-b"
    assert one.loc[1004, "display_entity_name"] == "be_4"
    assert one.loc[1006, "display_entity_name"] == "be_6"
    assert one.loc[1007, "display_entity_name"] == "svc-c"  # no backend, fall back
    # display span: entry -> api_name; exit w/ callee -> callee api_name;
    # backend path; op_name fallbacks
    assert one.loc[1001, "display_span_name"] == "api_1"
    assert one.loc[1002, "display_span_name"] == "api_3"
    assert one.loc[1004, "display_span_name"] == "/bp4"
    assert one.loc[1006, "display_span_name"] == "op_6"
    assert one.loc[1005, "display_span_name"] == "op_5"


def test_service_call_scenarios(spark, spans):
    sc = tg.service_call_edges(spans).toPandas()
    t_even = sc[sc.trace_id == 1]  # broken root ref -> no scenario d
    by_scen = t_even.groupby("scenario").size().to_dict()
    assert by_scen.get("EDGE") == 1
    assert by_scen.get("ROOT_ENTRY") == 1
    assert by_scen.get("BACKEND") == 3  # spans 4, 6, 7
    assert "NON_ENTRY_ROOT" not in by_scen
    edge = t_even[t_even.scenario == "EDGE"].iloc[0]
    assert edge["caller_service"] == "svc-a" and edge["callee_service"] == "svc-b"
    assert edge["error_count"] == 1  # target span 3 has the error
    assert edge["exception_count"] == 1  # source span 2 has the exception
    be = t_even[t_even.scenario == "BACKEND"].set_index("client_span_id")
    assert be.loc[1004, "request_url"] == "http://be_4/bp4"
    assert be.loc[1006, "request_url"] == "http://be_6"
    assert be.loc[1007].isna()["request_url"]
    # odd trace: span 7 is a real root -> scenario d fires
    t_odd = sc[sc.trace_id == 2]
    d = t_odd[t_odd.scenario == "NON_ENTRY_ROOT"]
    assert len(d) == 1 and d.iloc[0]["server_span_id"] == 2007
    assert d.iloc[0]["callee_service"] == "svc-c"


def test_raw_service_view(spark, spans):
    rv = tg.raw_service_view(spans).toPandas()
    one = rv[rv.trace_id == 1].set_index("span_id")
    assert set(one.index) == _ids(1000, 1, 3, 7)  # node heads only
    assert one.loc[1001, "num_calls"] == 1 and one.loc[1003, "num_calls"] == 1
    assert one.loc[1007, "num_calls"] == 0
    assert set(one["transaction_name"]) == {"api_1"}  # earliest ENTRY


def test_boundary_types_relational(spark, spans):
    b = (
        tg.span_boundary_types(spans)
        .toPandas()
        .set_index(["trace_id", "span_id"])
    )
    assert bool(b.loc[(3, 3001), "is_api_entry"])
    assert bool(b.loc[(3, 3003), "is_api_entry"])  # parent is EXIT
    assert bool(b.loc[(3, 3002), "is_api_exit"])  # has ENTRY child
    assert bool(b.loc[(3, 3004), "is_api_exit"])  # leaf exit
    assert not bool(b.loc[(3, 3001), "is_api_exit"])
    assert not bool(b.loc[(3, 3005), "is_api_entry"])  # internal span


def test_deterministic_across_partitionings(spark, spans):
    a = tg.api_nodes(spans.repartition(16)).orderBy("trace_id", "span_id").toPandas()
    b = tg.api_nodes(spans.coalesce(1)).orderBy("trace_id", "span_id").toPandas()
    assert a.equals(b)


def _mk_spans(spark, rows):
    import pandas as pd

    base = {
        "tenant_id": 0, "trace_id": 1, "ts_ms": 0, "api_name": "a",
        "op_name": "o", "start_ms": 0, "end_ms": 1, "duration_ms": 1,
        "error_count": 0, "exception_count": 0, "status_code": 200,
        "backend_name": None, "backend_path": None, "has_parent_ref": False,
    }
    full = []
    for i, r in enumerate(rows):
        d = dict(base)
        d.update(r)
        d.setdefault("ts_ms", i * 10)
        d["start_ms"] = d["ts_ms"]
        d["has_parent_ref"] = r.get("has_parent_ref", r.get("parent_span_id") is not None)
        full.append(d)
    cols = [
        "tenant_id", "trace_id", "span_id", "parent_span_id", "ts_ms", "kind",
        "service", "api_name", "op_name", "start_ms", "end_ms", "duration_ms",
        "error_count", "exception_count", "status_code", "backend_name",
        "backend_path", "has_parent_ref",
    ]
    df = spark.createDataFrame(
        pd.DataFrame(full)[cols],
        schema=(
            "tenant_id long, trace_id long, span_id long, parent_span_id long, "
            "ts_ms long, kind string, service string, api_name string, "
            "op_name string, start_ms long, end_ms long, duration_ms long, "
            "error_count long, exception_count long, status_code long, "
            "backend_name string, backend_path string, has_parent_ref boolean"
        ),
    )
    from pyspark.sql import functions as F

    flags = tg.span_boundary_types(df).select(
        F.col("span_id").alias("f_span_id"),
        F.col("is_api_entry").alias("is_entry_api"),
        F.col("is_api_exit").alias("is_exit_api"),
    )
    return df.join(flags, df.span_id == flags.f_span_id).drop("f_span_id")


def test_nodeless_spans(spark):
    """Spans below an exit API boundary and UNSPECIFIED-root subtrees are
    claimed by NO ApiNode (ApiTraceGraph.java:202-221: exit-boundary
    children are not expanded; non-exit roots are not heads)."""
    spans = _mk_spans(
        spark,
        [
            {"span_id": 1, "parent_span_id": None, "kind": "ENTRY", "service": "a"},
            {"span_id": 2, "parent_span_id": 1, "kind": "EXIT", "service": "a"},
            {"span_id": 3, "parent_span_id": 2, "kind": "ENTRY", "service": "b"},
            # UNSPECIFIED child of the exit boundary: unreachable -> nodeless
            {"span_id": 4, "parent_span_id": 2, "kind": "UNSPECIFIED", "service": "a"},
            # UNSPECIFIED root + its child: not a head -> whole subtree nodeless
            {"span_id": 5, "parent_span_id": None, "kind": "UNSPECIFIED", "service": "c"},
            {"span_id": 6, "parent_span_id": 5, "kind": "EXIT", "service": "c"},
        ],
    )
    nodes = tg.api_nodes(spans).toPandas()
    assert set(nodes["span_id"]) == {1, 2, 3}
    assert set(nodes[nodes.head_span_id == 1]["span_id"]) == {1, 2}
    # span 6 is an exit-api leaf but unreachable (root 5 is not a head):
    # no BACKEND service-call row for it either
    sc = tg.service_call_edges(spans).toPandas()
    assert 6 not in set(sc["client_span_id"].dropna())


def test_spans_build_arrow_equals_relational(spark):
    """The one-shuffle applyInPandas derivation and the relational
    window+join chain produce bit-identical span frames — each
    independently re-derives the parent links and boundary flags, so a
    bug in either formulation breaks this (on top of the DuckDB oracle)."""
    import pandas as pd

    from hypertrace_ingester_spark.operators import spandom

    sf = "/root/testdata/sf0.001"
    key = ["trace_id", "span_id"]
    a = spandom._spans_build(spark, sf).toPandas()
    b = spandom._spans_build_arrow(spark, sf).toPandas()
    assert sorted(a.columns) == sorted(b.columns)
    a = a.sort_values(key).reset_index(drop=True)[sorted(a.columns)]
    b = b.sort_values(key).reset_index(drop=True)[sorted(b.columns)]
    for c in a.columns:
        eq = (a[c].isna() & b[c].isna()) | (a[c] == b[c])
        assert eq.all(), f"column {c} differs"


# -- one Python call per partition: batch cutting, carried traces -----------

_WALKS = [
    (tg.api_nodes, tg._api_node_rows),
    (tg.api_edges, tg._api_edge_rows),
    (tg.span_event_walks, tg._span_event_rows),
    (tg.service_call_edges, tg._service_call_rows),
    (tg.raw_service_view, tg._raw_service_rows),
]
_WALK_IDS = [w.__name__ for w, _ in _WALKS]


def _random_traces(spark, seed: int = 7):
    """Seeded random trees whose event order (ts_ms, span_id) disagrees
    with span id order, with ts ties, null and -1 parents, null
    tenant/trace keys and a single-span trace. Boundary flags follow the
    relational rule of ``span_boundary_types``, computed here per trace."""
    import random

    rng = random.Random(seed)
    keys = [(0, 11), (0, 12), (1, 11), (None, 13), (2, None), (0, 15), (1, 14)]
    rows = []
    for tenant, trace in keys:
        n = 1 if trace == 15 else rng.randint(8, 18)
        ids = rng.sample(range(1, 2**62), n)
        spans = []
        for i, sid in enumerate(ids):
            if i == 0:
                parent = None
            else:
                r = rng.random()
                parent = None if r < 0.08 else (-1 if r < 0.14 else ids[rng.randrange(i)])
            kind = rng.choice(["ENTRY", "ENTRY", "EXIT", "EXIT", "UNSPECIFIED"])
            be = rng.choice([None, "", f"be{i}"])
            spans.append({
                "tenant_id": tenant, "trace_id": trace, "span_id": sid,
                "parent_span_id": parent, "ts_ms": rng.randint(0, 6) * 10,
                "kind": kind, "service": rng.choice(["a", "b", "c"]),
                "api_name": f"api_{i}", "op_name": f"op_{i}",
                "start_ms": i, "end_ms": i + 3, "duration_ms": 3,
                "error_count": rng.randint(0, 1), "exception_count": rng.randint(0, 2),
                "status_code": rng.choice([200, 500]), "backend_name": be,
                "backend_path": rng.choice([None, "", f"/p{i}"]) if be else None,
                "has_parent_ref": parent is not None,
            })
        by_id = {s["span_id"]: s for s in spans}
        for s in spans:
            p = by_id.get(s["parent_span_id"])
            kids = [c for c in spans if c["parent_span_id"] == s["span_id"]]
            s["is_entry_api"] = s["kind"] == "ENTRY" and (
                p is None or p["kind"] != "ENTRY" or p["service"] != s["service"])
            s["is_exit_api"] = s["kind"] == "EXIT" and (
                not kids or any(c["kind"] == "ENTRY" for c in kids))
        rows += spans
    # the seed gives a null parent below a trace's first span and a -1 parent
    assert any(r["parent_span_id"] is None for r in rows if r["start_ms"] > 0)
    assert any(r["parent_span_id"] == -1 for r in rows)
    schema = (
        "tenant_id long, trace_id long, span_id long, parent_span_id long, "
        "ts_ms long, kind string, service string, api_name string, "
        "op_name string, start_ms long, end_ms long, duration_ms long, "
        "error_count long, exception_count long, status_code long, "
        "backend_name string, backend_path string, has_parent_ref boolean, "
        "is_entry_api boolean, is_exit_api boolean"
    )
    names = [f.split()[0] for f in schema.split(", ")]
    return spark.createDataFrame([tuple(r[c] for c in names) for r in rows], schema)


def _per_trace_reference(spans, per_trace) -> list:
    """The walk run one trace at a time on the driver: group on the raw
    keys (null keys form a group), sort each trace into event order and
    map a null parent to the -1 sentinel — what the grouped-map path did."""
    groups: dict = {}
    for r in spans.collect():
        groups.setdefault((r["tenant_id"], r["trace_id"]), []).append(r.asDict())
    out: list = []
    for rows in groups.values():
        rows.sort(key=lambda r: (r["ts_ms"], r["span_id"]))
        cols = {c: [r[c] for r in rows] for c in rows[0]}
        cols["parent_span_id"] = [-1 if p is None else p for p in cols["parent_span_id"]]
        per_trace(tg._TraceState(cols, 0, len(rows)), out.append)
    return sorted(out, key=repr)


@pytest.fixture(scope="module")
def random_traces(spark):
    return _random_traces(spark).cache()


@pytest.fixture
def tiny_arrow_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("walk,per_trace", _WALKS, ids=_WALK_IDS)
def test_walk_matches_per_trace_path_across_arrow_batches(
    random_traces, tiny_arrow_batches, walk, per_trace
):
    """Three rows per Arrow batch: every multi-span trace straddles a batch
    boundary and is carried into the next batch."""
    got = sorted((tuple(r) for r in walk(random_traces).collect()), key=repr)
    assert got == _per_trace_reference(random_traces, per_trace)


@pytest.mark.parametrize("walk", [w for w, _ in _WALKS], ids=_WALK_IDS)
def test_walk_plan_has_no_grouped_map(random_traces, walk):
    plan = walk(random_traces)._jdf.queryExecution().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInArrow" in plan
