"""Link-graph domain PageRank: exact agreement with a dense numpy power
iteration (same formula, same iteration count), mass conservation, and
the crawl-to-rank composition over the deterministic page generator."""

import numpy as np
import pytest
from helpers import generate_pages
from pyspark.sql import functions as F

from hypertrace_ingester_spark.operators import linkgraph as lg
from hypertrace_ingester_spark.operators import webextract as wx


def _numpy_pagerank(edges, damping=0.85, iters=10):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    idx = {d: i for i, d in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for a, _ in edges:
        out[idx[a]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[out == 0].sum()
        nxt = np.full(n, (1 - damping) / n) + damping * dangling / n
        for a, b in edges:
            nxt[idx[b]] += damping * r[idx[a]] / out[idx[a]]
        r = nxt
    return dict(zip(nodes, r))


EDGES = [
    ("a.com", "b.com"), ("a.com", "c.com"), ("b.com", "c.com"),
    ("c.com", "a.com"), ("d.com", "c.com"), ("d.com", "a.com"),
    ("e.com", "a.com"),  # e has no in-links; f is dangling (in only)
    ("a.com", "f.com"),
]


def test_pagerank_matches_numpy_power_iteration(spark):
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r.domain: r.rank for r in lg.page_rank(edges, iters=10).collect()}
    want = _numpy_pagerank(EDGES, iters=10)
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=1e-12), d
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_pagerank_ordering_is_sane(spark):
    """c.com (3 in-links incl. from the hub) and a.com (3 in-links) must
    outrank the never-linked e.com; the dangling f.com redistributes."""
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r.domain: r.rank for r in lg.page_rank(edges).collect()}
    assert got["c.com"] > got["e.com"]
    assert got["a.com"] > got["e.com"]
    assert min(got.values()) > 0


def test_pagerank_empty_graph(spark):
    edges = spark.createDataFrame([], "src string, dst string")
    assert lg.page_rank(edges).count() == 0


def test_domain_edges_from_extracted_links(spark):
    """extract_links → domain_edges: absolute links only, registered-domain
    grain, self-loops dropped, duplicates collapsed."""
    pages = spark.createDataFrame(
        [
            ("https://www.x.com/p1", ["https://y.com/a", "https://sub.y.com/b",
                                      "/relative", "https://x.com/self",
                                      "HTTPS://Z.ORG/caps"]),
            ("https://x.com/p2", ["https://y.com/again"]),
        ],
        "url string, links array<string>",
    )
    got = {(r.src, r.dst) for r in lg.domain_edges(pages).collect()}
    assert got == {("x.com", "y.com"), ("x.com", "z.org")}


def test_crawl_to_rank_composition(spark):
    """Generator pages → extract_links → domain_edges → page_rank → join
    back as a per-doc quality column (the full curation-signal path)."""
    pages = generate_pages(spark, 30).withColumn(
        "url",
        F.concat(
            F.lit("https://site"), (F.col("page_id") % 3).cast("string"),
            F.lit(".org/p/"), F.col("page_id").cast("string"),
        ),
    )
    linked = wx.extract_links(pages).withColumn(
        "links",
        # add deterministic cross-site absolute links: page i links to
        # site (i+1)%3 — a 3-cycle, so ranks must be equal by symmetry
        F.array_union(
            F.col("links"),
            F.array(
                F.concat(
                    F.lit("https://site"), ((F.col("page_id") + 1) % 3).cast("string"),
                    F.lit(".org/x"),
                )
            ),
        ),
    )
    edges = lg.domain_edges(linked)
    assert {(r.src, r.dst) for r in edges.collect()} == {
        ("site0.org", "site1.org"), ("site1.org", "site2.org"),
        ("site2.org", "site0.org"),
    }
    ranks = lg.page_rank(edges)
    vals = [r.rank for r in ranks.collect()]
    assert len(vals) == 3
    assert max(vals) - min(vals) < 1e-12  # cycle symmetry
    docs = spark.createDataFrame(
        [(1, "site0.org"), (2, "nowhere.net")], "doc_id long, source string"
    )
    q = {r.doc_id: r.domain_rank for r in lg.domain_quality(docs, ranks).collect()}
    assert q[1] == pytest.approx(1 / 3, abs=1e-12)
    assert q[2] is None


def test_domain_rank_floor_curation_stage(spark):
    """ingest-shaped docs with outlinks → the opt-in domain_rank_floor
    stage: PageRank over the crawl's own graph drops pages from domains
    ranking below the floor; domains outside the graph (NULL rank)
    survive. The floor is derived from the numpy reference so the test
    pins semantics, not float luck."""
    from hypertrace_ingester_spark.plans.curation import (
        CurationConfig,
        run_curation,
    )

    # site0→site1→site2→site0 cycle (boosted) + site3 links in but gets no
    # in-links (teleport-only rank) + site9 with NO absolute links at all
    # (outside the graph → NULL rank → survives)
    rows = []
    for i in range(40):
        dom = i % 5
        url = f"https://site{dom}.org/p/{i}"
        if dom < 3:
            links = [f"https://site{(dom + 1) % 3}.org/x"]
        elif dom == 3:
            links = ["https://site0.org/x"]
        else:
            url = f"https://site9.org/p/{i}"
            links = ["/relative-only"]
        rows.append((i, url, f"site{dom if dom < 4 else 9}.org", "en",
                     f"unique doc {i} " * 10 + "end.", links))
    docs = spark.createDataFrame(
        rows,
        "doc_id long, url string, source string, lang string, text string, "
        "links array<string>",
    )
    edges = [("site0.org", "site1.org"), ("site1.org", "site2.org"),
             ("site2.org", "site0.org"), ("site3.org", "site0.org")]
    ref = _numpy_pagerank(edges, iters=10)
    floor = (ref["site3.org"] + min(ref[d] for d in
             ("site0.org", "site1.org", "site2.org"))) / 2
    assert ref["site3.org"] < floor  # fixture sanity

    cfg = CurationConfig(
        domain_rank_floor=floor,
        quality_filter=False, gopher_filter=False, redact_pii=False,
        near_dup=False,
    )
    out, man = run_curation(spark, docs, config=cfg)
    s = man["stages"]
    assert s["input"]["rows"] == 40
    assert s["domain_ranked"]["rows"] == 32  # 8 site3 pages dropped
    kept_sources = {r.source for r in out.select("source").distinct().collect()}
    assert "site3.org" not in kept_sources
    assert "site9.org" in kept_sources  # NULL-rank domain survives
    assert "links" not in out.columns
