"""Drain-tier log template mining vs an independent pure-python reference
(the robots/BM25 oracle pattern): the reference builds the fixed-depth
tree with its own dict-based routing and its own regex masking, processes
the same distinct-masked-message stream in first-occurrence order, and
must agree with the Spark operator on every cluster assignment and final
template. Plus the motivating semantic case the mask-chain tier cannot
express: lines differing in an unmasked literal slot merging into one
wildcarded template."""

import re

import pytest
from pyspark.sql import functions as F

from hypertrace_ingester_spark.operators import drain


# --- independent pure-python Drain reference --------------------------------

_MASKS = [
    (re.compile(r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"), "<IP>"),
    (re.compile(
        r"\b[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
        r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\b"), "<UUID>"),
    (re.compile(r"\b0x[0-9a-fA-F]+\b"), "<HEX>"),
    (re.compile(r"\d+"), "<NUM>"),
]


# Java's \s class, exactly: [ \t\n\x0B\f\r] — the canonicalization must
# mirror Spark's regexp_replace semantics, not Python's Unicode \s
_JWS = "[ \t\n\x0b\f\r]"


def _py_mask(line: str) -> str:
    for rx, tok in _MASKS:
        line = rx.sub(tok, line)
    line = re.sub(f"^{_JWS}+|{_JWS}+$", "", line)
    return re.sub(f"{_JWS}+", " ", line)


def _py_drain(lines, depth=4, st=0.5):
    """(ordered unique masked messages) -> {masked_msg: (cluster_key,
    template)} via a literal fixed-depth tree of nested dicts."""
    tree = {}
    results = {}
    clusters = []  # (leaf_key, [template tokens], [member msgs])
    for msg in lines:
        tokens = msg.split(" ")
        key_parts = [str(len(tokens))]
        for i in range(depth - 1):
            key_parts.append(tokens[i] if i < len(tokens) else "")
        node = tree
        for part in key_parts:
            node = node.setdefault(part, {})
        leaf = node.setdefault("_clusters", [])
        best, best_sim, best_par = -1, -1.0, -1
        for ci in leaf:
            tmpl = clusters[ci][1]
            sim, par = 0, 0
            for a, b in zip(tmpl, tokens):
                if a == "<*>":
                    par += 1
                elif a == b:
                    sim += 1
            s = sim / max(len(tokens), 1)
            if s > best_sim or (s == best_sim and par > best_par):
                best, best_sim, best_par = ci, s, par
        if best >= 0 and best_sim >= st:
            kp, tmpl, members = clusters[best]
            clusters[best] = (
                kp,
                [a if a == b else "<*>" for a, b in zip(tmpl, tokens)],
                members + [msg],
            )
        else:
            clusters.append(("\x1f".join(key_parts), [list(tokens), ][0],
                             [msg]))
            leaf.append(len(clusters) - 1)
    for ci, (kp, tmpl, members) in enumerate(clusters):
        for msg in members:
            results[msg] = (kp, " ".join(tmpl))
    return results


LINES = [
    "connected to host alpha on port 8080",
    "connected to host bravo on port 9090",
    "connected to host charlie on port 8080",
    "user 1001 logged in from 10.0.0.1",
    "user 1002 logged in from 10.0.0.2",
    "user 1002 logged out",
    "cache miss for key a1b2c3d4-e5f6-7890-abcd-ef0123456789",
    "cache miss for key 99999999-aaaa-bbbb-cccc-dddddddddddd",
    "GC pause 0x1f3a took 250 ms",
    "GC pause 0x2b4c took 31 ms",
    "request failed with status 503 retrying",
    "request failed with status 404 giving up",
    "shutdown complete",
    "shutdown complete",          # exact duplicate: must not re-cluster
    "connected to host alpha on port 8080",   # duplicate of line 0
    # whitespace-hostile variants (review find): a leading tab, a CRLF
    # tail, and an interior double space must canonicalize into the SAME
    # leaf/cluster as their clean siblings, not route under a phantom
    # empty token
    "\tconnected to host delta on port 7070\r",
    "connected  to host echo on port 6060",
]


def _spark_logs(spark):
    return spark.createDataFrame(
        [(i, ln) for i, ln in enumerate(LINES)],
        "event_id long, summary string")


def test_drain_matches_python_reference(spark):
    got = drain.drain_templates(_spark_logs(spark)).toPandas()
    # reference stream: distinct masked messages in first-occurrence order
    seen, ordered = set(), []
    for ln in LINES:
        m = _py_mask(ln)
        if m not in seen:
            seen.add(m)
            ordered.append(m)
    want = _py_drain(ordered)
    assert set(got["masked_msg"]) == set(want)
    for _, r in got.iterrows():
        wk, wt = want[r["masked_msg"]]
        assert r["template"] == wt, (r["masked_msg"], r["template"], wt)
    # same-cluster structure: two messages share a Spark cluster_id iff
    # they share a reference template+leaf
    by_cluster = got.groupby("cluster_id")["masked_msg"].apply(set)
    ref_groups = {}
    for m, (kp, t) in want.items():
        ref_groups.setdefault((kp, t), set()).add(m)
    assert sorted(map(sorted, by_cluster)) == sorted(
        map(sorted, ref_groups.values()))


def test_drain_merges_unmasked_literal_slots(spark):
    """The exact case the mask chain cannot merge (round-5 VERDICT #5):
    hostnames are unmaskable literals, so the mask tier keeps 3 templates;
    the Drain tier folds them into one wildcarded skeleton."""
    got = drain.drain_templates(_spark_logs(spark)).toPandas()
    hosts = got[got["masked_msg"].str.startswith("connected to host")]
    assert set(hosts["template"]) == {
        "connected to host <*> on port <NUM>"}
    assert hosts["cluster_id"].nunique() == 1
    # the tab/CRLF/double-space variants canonicalized into this cluster
    assert {"connected to host delta on port <NUM>",
            "connected to host echo on port <NUM>"} <= set(
        hosts["masked_msg"])
    # duplicates weighted, not re-clustered
    alpha = hosts[hosts["masked_msg"].str.contains("alpha")]
    assert int(alpha["n_lines"].iloc[0]) == 2
    # different token counts never merge (tree routing)
    out_row = got[got["masked_msg"] == "user <NUM> logged out"]
    in_rows = got[got["masked_msg"].str.contains("logged in")]
    assert set(in_rows["template"]) == {"user <NUM> logged in from <IP>"}
    assert out_row["template"].iloc[0] == "user <NUM> logged out"


def test_assign_templates_is_broadcast_and_total(spark):
    logs = _spark_logs(spark)
    templ = drain.drain_templates(logs)
    labeled = drain.assign_templates(logs, templ)
    rows = labeled.collect()
    assert len(rows) == len(LINES)
    assert all(r["template"] is not None for r in rows)
    # line side must not shuffle: broadcast join, no hash Exchange before it
    plan = labeled._jdf.queryExecution().executedPlan().toString()
    head = plan.split("BroadcastExchange")[0]
    assert "BroadcastHashJoin" in head
    assert "Exchange hashpartitioning" not in head


def test_assign_templates_template_table_is_bounded(spark, monkeypatch):
    """The template table is collected with a row bound: at the bound the
    lines are labeled, one row under it raises a named error giving the
    rows seen and the bound."""
    from hypertrace_ingester_spark.operators.enrich import DimTooLargeError

    logs = _spark_logs(spark)
    templ = drain.drain_templates(logs).cache()
    n = templ.count()
    monkeypatch.setattr(drain, "TEMPLATE_TABLE_MAX_ROWS", n)
    assert drain.assign_templates(logs, templ).count() == len(LINES)
    monkeypatch.setattr(drain, "TEMPLATE_TABLE_MAX_ROWS", n - 1)
    with pytest.raises(DimTooLargeError, match=rf"more than {n - 1} rows \({n} collected"):
        drain.assign_templates(logs, templ)


def test_drain_deterministic_across_runs(spark):
    a = drain.drain_templates(_spark_logs(spark)).toPandas() \
        .sort_values("masked_msg").reset_index(drop=True)
    b = drain.drain_templates(
        _spark_logs(spark).repartition(7)).toPandas() \
        .sort_values("masked_msg").reset_index(drop=True)
    assert a.equals(b)


def test_drain_template_positional_invariants(spark):
    """Structural laws every Drain output must satisfy, independent of
    the reference: (a) a template has exactly as many tokens as each
    member message; (b) at every non-wildcard position the template token
    equals the member's token; (c) a cluster's template is the positional
    intersection of its members (token kept iff ALL members agree)."""
    got = drain.drain_templates(_spark_logs(spark)).toPandas()
    for _, r in got.iterrows():
        mt, tt = r["masked_msg"].split(" "), r["template"].split(" ")
        assert len(mt) == len(tt), r["masked_msg"]
        for a, b in zip(tt, mt):
            assert a == drain.WILDCARD or a == b, (r["template"],
                                                  r["masked_msg"])
    for cid, grp in got.groupby("cluster_id"):
        toks = [m.split(" ") for m in grp["masked_msg"]]
        tmpl = grp["template"].iloc[0].split(" ")
        assert (grp["template"] == grp["template"].iloc[0]).all()
        for pos, t in enumerate(tmpl):
            vals = {m[pos] for m in toks}
            if t != drain.WILDCARD:
                assert vals == {t}, (cid, pos)
            else:
                assert len(vals) > 1 or drain.WILDCARD in vals, (cid, pos)


def test_drain_bounded_leaf_overflow(spark):
    """max_leaf_clusters bounds per-leaf founding: once the cap in CLUSTERS
    that match an existing cluster still assign normally; non-matching
    ones land in the labeled #overflow bucket instead of founding new
    clusters without bound (the high-entropy-corpus guard)."""
    # variant slots must sit PAST the depth-1=3 routing tokens (and past
    # the masks: letters, not digits) or the rows land in different leaves
    letters = "abcdef"
    rows = [(i, f"alpha beta gamma {letters[i]} delta")                # merge
            for i in range(6)]
    rows += [(100 + i, f"p q r s{c} t{c} u{c} v{c}")                   # chaos:
             for i, c in enumerate(letters)]  # sim 3/7 < 0.5 pairwise
    logs = spark.createDataFrame(rows, "event_id long, summary string")
    got = drain.drain_templates(logs, max_leaf_clusters=3).toPandas()
    over = got[got["cluster_id"].str.endswith("#overflow")]
    # the alpha-beta family merged into one cluster regardless of the cap
    fam = got[got["masked_msg"].str.startswith("alpha beta")]
    assert fam["cluster_id"].nunique() == 1
    assert set(fam["template"]) == {"alpha beta gamma <*> delta"}, \
        set(fam["template"])
    # the chaos rows (pairwise similarity 0) founded only up to the cap;
    # the rest are overflow, visibly labeled, template = bare wildcard
    chaos = got[got["masked_msg"].str.startswith("p q r")]
    founded = chaos[~chaos["cluster_id"].str.endswith("#overflow")]
    assert len(founded) <= 3
    assert len(over) >= 1
    assert set(over["template"]) == {drain.WILDCARD}
    # default cap leaves ordinary corpora untouched
    base = drain.drain_templates(logs).toPandas()
    assert not base["cluster_id"].str.endswith("#overflow").any()


def test_assign_templates_on_a_stream(spark, tmp_path):
    """The Drain tier's deployment shape at V6 scale: templates mined in
    batch (bounded dim), streamed log lines labeled by the stream-static
    broadcast join — every streamed row gets its template, no stateful
    operator involved."""
    in_dir = str(tmp_path / "stream_logs")
    logs = _spark_logs(spark)
    logs.repartition(2).write.parquet(in_dir)
    templ = drain.drain_templates(logs)

    stream = spark.readStream.schema(logs.schema).parquet(in_dir)
    labeled = drain.assign_templates(stream, templ)
    q = (labeled.writeStream.format("memory").queryName("drain_labeled")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from drain_labeled").collect()
    assert len(rows) == len(LINES)
    assert all(r["template"] is not None for r in rows)
    hosts = [r for r in rows
             if r["masked_msg"].startswith("connected to host")]
    assert {r["template"] for r in hosts} == {
        "connected to host <*> on port <NUM>"}
