"""Drain-style log-template mining — the depth-bounded parse-tree tier on
top of the mask-chain tier (``views.log_templates``).

The mask chain collapses fixed-format lines whose variable fields are
maskable shapes (numbers, IPs, UUIDs), but it cannot merge two lines that
differ in an UNMASKED literal slot — e.g. ``connected to host alpha`` /
``connected to host bravo`` stay two templates. Drain (He et al., "Drain:
An Online Log Parsing Approach with Fixed Depth Tree", ICWS 2017; public
logpai implementation shape) solves exactly that: route lines through a
fixed-depth tree keyed by token count + leading tokens, then greedily
merge within a leaf when positional similarity clears a threshold,
wildcarding disagreeing slots.

Batch re-expression (NOT a port of the online algorithm's mutable tree):

- the tree's routing is a PURE FUNCTION of the line (token count + the
  first ``depth-1`` tokens, digit-bearing tokens pre-wildcarded), so the
  leaves are exactly the groups of a ``groupBy`` — one shuffle keyed by
  leaf, no shared driver state;
- within a leaf, the greedy match/merge loop (logpai ``seq_dist`` /
  ``get_template`` semantics: similarity = equal-token fraction,
  ``<*>`` slots excluded from similarity but tie-broken by param count,
  first match wins on ties, merge wildcards disagreeing positions) runs
  over the leaf's DISTINCT masked messages in first-occurrence order
  inside one ``applyInPandas`` group;
- processing distinct messages instead of raw lines is the documented
  deviation from per-line online Drain: a duplicate line can never
  create or reroute a cluster here, and it is what bounds a leaf's group
  size by its TEMPLATE space rather than its line count — the property
  that keeps the operator shuffle-safe when one hot leaf holds billions
  of lines at 100 TB. Line frequencies still weight the output via the
  carried ``n_lines`` count.

Reference analog: none (the reference emits per-record LogEventView rows,
LogEventViewGenerator.java:43-111, with no template rollup); this is the
analytics layer of the driver-mandate log pipeline, composing with
``views.log_event_view``. Verified against an independent pure-python
Drain reference (tests/test_drain.py — the robots/BM25 oracle pattern).
"""

from __future__ import annotations

from typing import Iterator, List, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .enrich import collect_local
from .views import mask_log_line

WILDCARD = "<*>"
# row bound on the template table assign_templates collects and broadcasts
TEMPLATE_TABLE_MAX_ROWS = 100_000


def _masked_msg(col: Column) -> Column:
    """Canonical masked message: mask chain, then whitespace canonicalized
    — edge runs stripped and interior runs collapsed to ONE space (Java
    ``\\s`` class). This is what makes tokenization engine-agnostic: the
    JVM routing and the Python per-leaf merge both split on the literal
    single space, so a tab- or CRLF-bearing line cannot route under one
    token count and cluster under another (review find: ``F.trim`` strips
    only ASCII spaces and Python ``str.split()`` treats Unicode
    whitespace differently from Java ``\\s``)."""
    m = mask_log_line(col)
    m = F.regexp_replace(m, r"^\s+|\s+$", "")
    return F.regexp_replace(m, r"\s+", " ")


def _route_tokens(tokens_col: Column, depth: int) -> Column:
    """First ``depth-1`` routing tokens; missing positions route as empty.
    Drain's classic digit rule (digit-bearing tokens route as the
    wildcard) is deliberately ABSENT: the mask chain runs before routing
    and replaces every digit run with ``<NUM>``-style tokens, so no
    post-mask token can contain a digit — the rule would be dead code."""
    parts = []
    for i in range(depth - 1):
        parts.append(F.coalesce(F.get(tokens_col, i), F.lit("")))
    return F.concat_ws("\x1f", *parts)


def seq_dist(template: List[str], tokens: List[str]) -> Tuple[float, int]:
    """logpai Drain similarity: fraction of positions where the template
    token equals the line token; ``<*>`` slots are excluded from the
    numerator and returned separately as the param count (tie-break)."""
    sim, par = 0, 0
    for a, b in zip(template, tokens):
        if a == WILDCARD:
            par += 1
        elif a == b:
            sim += 1
    return sim / max(len(tokens), 1), par


def merge_template(template: List[str], tokens: List[str]) -> List[str]:
    """Position-wise intersection: agreeing tokens stay, others wildcard."""
    return [a if a == b else WILDCARD for a, b in zip(template, tokens)]


def drain_templates(
    logs: DataFrame,
    msg_col: str = "summary",
    order_col: str = "event_id",
    depth: int = 4,
    sim_threshold: float = 0.5,
    max_leaf_clusters: int = 100_000,
) -> DataFrame:
    """Mine Drain templates over a log frame.

    Returns the template table at DISTINCT-masked-message grain:
    ``(leaf_key, masked_msg, cluster_id, template, n_lines, first_id)``
    — ``cluster_id`` is ``<leaf_key>#<index>`` (deterministic),
    ``template`` the cluster's final merged skeleton. Join it back to the
    line frame with :func:`assign_templates` (the table is
    template-space bounded, so that join broadcasts).

    ``order_col`` pins first-occurrence order (online Drain's cluster
    evolution is order-sensitive; a deterministic order column makes the
    batch result reproducible run-to-run and against the test oracle).

    ``max_leaf_clusters`` bounds a leaf's in-memory work against the
    adversarial case (high-entropy corpora where distinct masked messages
    grow with the corpus — random tokens of one length share a leaf):
    once a leaf holds that many clusters, further non-matching messages
    fall to a per-leaf ``#overflow`` cluster instead of founding new ones
    (Drain3's bounded max_clusters, deterministic instead of LRU);
    messages matching an existing cluster always assign normally. The cap
    counts CLUSTERS, not input rows — a log-shaped leaf with millions of
    distinct messages folding into a handful of templates never hits it
    (review find: a row-position cap would mislabel late-arriving
    legitimate templates). Overflow rows are visibly labeled — at 100 TB
    a leaf that overflows is telling you the field isn't log-shaped, not
    asking for more memory.

    Scale shape: one map pass (mask + tokenize), one partial-agg'd
    shuffle to distinct-message grain (count + min(order) fold map-side),
    one shuffle keyed by leaf into ``applyInPandas`` whose group size is
    the leaf's distinct-template population, then a bounded result.
    """
    masked = logs.select(
        F.col(order_col).alias("_oid"),
        _masked_msg(F.col(msg_col)).alias("masked_msg"),
    ).where(F.col("masked_msg").isNotNull())
    toks = F.split(F.col("masked_msg"), " ")
    keyed = masked.select(
        "_oid", "masked_msg",
        F.concat_ws(
            "\x1f", F.size(toks).cast("string"), _route_tokens(toks, depth)
        ).alias("leaf_key"),
    )
    distinct = keyed.groupBy("leaf_key", "masked_msg").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.min("_oid").alias("first_id"),
    )

    st = float(sim_threshold)

    def cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("first_id", kind="mergesort").reset_index(
            drop=True)
        clusters: List[List[str]] = []
        assign: List[int] = []
        OVERFLOW = -2
        for msg in pdf["masked_msg"]:
            # masked_msg is whitespace-canonical (single spaces only) —
            # split on the literal space, matching the JVM routing split
            tokens = msg.split(" ")
            best, best_sim, best_par = -1, -1.0, -1
            for ci, tmpl in enumerate(clusters):
                s, p = seq_dist(tmpl, tokens)
                if s > best_sim or (s == best_sim and p > best_par):
                    best, best_sim, best_par = ci, s, p
            if best >= 0 and best_sim >= st:
                clusters[best] = merge_template(clusters[best], tokens)
                assign.append(best)
            elif len(clusters) < max_leaf_clusters:
                clusters.append(list(tokens))
                assign.append(len(clusters) - 1)
            else:
                # bounded-leaf guard: past the founding cap, non-matching
                # messages land in the labeled overflow bucket
                assign.append(OVERFLOW)
        leaf = pdf["leaf_key"].iloc[0] if len(pdf) else ""
        out = pdf.copy()
        out["cluster_id"] = [
            f"{leaf}#overflow" if i == OVERFLOW else f"{leaf}#{i}"
            for i in assign
        ]
        out["template"] = [
            WILDCARD if i == OVERFLOW else " ".join(clusters[i])
            for i in assign
        ]
        return out[["leaf_key", "masked_msg", "cluster_id", "template",
                    "n_lines", "first_id"]]

    schema = (
        "leaf_key string, masked_msg string, cluster_id string, "
        "template string, n_lines bigint, first_id long"
    )
    return distinct.groupBy("leaf_key").applyInPandas(cluster, schema=schema)


def assign_templates(
    logs: DataFrame,
    templates: DataFrame,
    msg_col: str = "summary",
) -> DataFrame:
    """Label every log line with its Drain cluster/template: re-derive the
    masked message map-side and broadcast-join the template table — the
    line frame never shuffles. The table is collected once into a
    JVM-local table (one job fetching at most
    ``TEMPLATE_TABLE_MAX_ROWS + 1`` rows); a larger one raises
    ``enrich.DimTooLargeError`` with the rows seen and the bound instead
    of broadcasting it."""
    with_mask = logs.withColumn(
        "masked_msg", _masked_msg(F.col(msg_col)))
    dim = collect_local(
        templates.select("masked_msg", "cluster_id", "template"),
        TEMPLATE_TABLE_MAX_ROWS, "Drain template table",
        "the logs have too many distinct masked messages to label by broadcast join")
    return with_mask.join(F.broadcast(dim), "masked_msg", "left")
