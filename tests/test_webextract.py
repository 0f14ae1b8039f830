"""WARC source + HTML boilerplate extraction (the crawl first mile).

Round-trip exactness is ALSO enforced by the driver gate (d_text_profile
threads the documents table through wrap → WARC → parse → extract and must
match the raw-text-hash oracle); these tests pin the adversarial edges and
the structural laws the gate's benign corpus can't reach.
"""

import pytest
from helpers import PAGE_LANGS, generate_pages, page_laws
from pyspark.sql import functions as F

from hypertrace_ingester_spark.operators import webextract as wx
from hypertrace_ingester_spark.sources import warc

ADVERSARIAL = [
    'a & b < c > d "quoted" &amp; pre-escaped entity',
    "tags in content </p> <script>alert(1)</script> <a href=x>link</a>",
    "unicode snowman ☃ emoji \U0001f680 cjk 你好",
    "ends with entity &lt;",
    "multi\nline\ncontent with\nnewlines",
    "",
    "WARC/1.0 mentioned without crlf",
    "nav footer header aside words that look like boilerplate tags",
]


def _docs(spark, texts, lang="en"):
    return spark.createDataFrame(
        [(i, lang, t) for i, t in enumerate(texts)],
        "doc_id long, lang string, text string",
    )


def test_roundtrip_byte_exact_adversarial(spark):
    """wrap_page → WARC wrap → file grouping → parse → extract returns every
    byte of every doc, including entities, embedded markup, newlines,
    astral-plane unicode, and the empty string."""
    rt = wx.roundtrip_documents(_docs(spark, ADVERSARIAL), n_files=3)
    got = {r.doc_id: (r.lang, r.text) for r in rt.collect()}
    assert len(got) == len(ADVERSARIAL)
    for i, t in enumerate(ADVERSARIAL):
        assert got[i] == ("en", t), (i, got[i])


def test_escape_unescape_identity(spark):
    df = _docs(spark, ADVERSARIAL).select(
        "text", wx.unescape_html(wx.escape_html(F.col("text"))).alias("rt")
    )
    assert all(r.text == r.rt for r in df.collect())


def test_boilerplate_dropped_content_kept(spark):
    """The injected nav (3 links / 3 words) and footer (2 links / 2 words)
    fail the link-density rule; scripts/styles/comments are stripped; the
    content block survives with title and lang extracted from the markup."""
    docs = _docs(spark, ["real content words here"], lang="fr")
    pages = docs.select(
        "doc_id",
        wx.wrap_page(F.col("doc_id"), F.col("lang"), F.col("text")).alias("html"),
    )
    row = wx.extract_text(pages).collect()[0]
    assert row.text == "real content words here"
    assert row.page_lang == "fr"
    assert row.page_title == "Doc 0"
    assert row.n_blocks_kept == 1
    assert row.n_blocks > 1  # nav/footer blocks existed and were dropped
    for junk in ("Home", "Terms", "performance.now", "margin:0", "synthcrawl"):
        assert junk not in row.text


def test_generator_laws_hold(spark):
    """extract_text over the law-driven page generator recovers exactly the
    closed-form paragraphs, lang, title, and kept-block count for every
    page — nav (2-4 links), the i%5 link farm, and head junk all drop."""
    ex = wx.extract_text(generate_pages(spark, 60)).collect()
    assert len(ex) == 60
    for r in ex:
        law = page_laws(r.page_id)
        assert r.text == "\n\n".join(law["paras"]), r.page_id
        assert r.page_lang == law["lang"]
        assert r.page_title == law["title"]
        assert r.n_blocks_kept == law["n_paras"]


def test_min_words_threshold(spark):
    """min_words drops short content blocks (justext's length rule)."""
    pages = generate_pages(spark, 20)
    ex = wx.extract_text(pages, min_words=8).collect()
    for r in ex:
        law = page_laws(r.page_id)
        want = [p for p, w in zip(law["paras"], law["para_words"]) if w >= 8]
        assert r.text == "\n\n".join(want), r.page_id


def test_extract_links_outlink_frontier(spark):
    pages = generate_pages(spark, 10)
    links = {r.page_id: r.links for r in wx.extract_links(pages).collect()}
    for i in range(10):
        law = page_laws(i)
        want = [f"/s{k}" for k in range(law["nav_links"])]
        if law["has_linkfarm"]:
            want += ["/a", "/b", "/c", "/d"]
        want += ["/tos", "/privacy"]
        assert links[i] == want, i


def test_warc_headers_and_http_fields(spark):
    docs = _docs(spark, ["hello world content"])
    pages = docs.select(
        "doc_id",
        wx.wrap_page(F.col("doc_id"), F.col("lang"), F.col("text")).alias("html"),
    )
    recs = pages.select(
        "doc_id", warc.wrap_record(F.col("doc_id"), F.col("html")).alias("record")
    )
    parsed = warc.parse_warc(
        warc.group_warc_files(recs, n_files=1).withColumnRenamed("payload", "payload")
    ).collect()[0]
    assert parsed.warc_type == "response"
    assert parsed.record_id == "urn:doc:0"
    assert parsed.target_uri == "https://crawl.example/doc/0"
    assert parsed.http_status == 200
    assert parsed.http_content_type == "text/html; charset=utf-8"
    assert parsed.content_len_ok
    assert parsed.html.startswith("<!DOCTYPE html>")


def test_warc_multi_record_split_order_and_lineage(spark):
    """Many records per synthetic file: the lookahead split recovers every
    record with a stable within-file index (record_idx = lineage analog of
    the kafka partition/offset columns)."""
    docs = _docs(spark, [f"doc number {i} body" for i in range(57)])
    pages = docs.select(
        "doc_id",
        wx.wrap_page(F.col("doc_id"), F.col("lang"), F.col("text")).alias("html"),
    )
    recs = pages.select(
        "doc_id", warc.wrap_record(F.col("doc_id"), F.col("html")).alias("record")
    )
    files = warc.group_warc_files(recs, n_files=4)
    assert files.count() == 4
    parsed = warc.parse_warc(files)
    rows = parsed.collect()
    assert len(rows) == 57
    assert all(r.content_len_ok for r in rows)
    # record_idx is dense per file, ordered by doc_id (the grouping law)
    by_file = {}
    for r in rows:
        by_file.setdefault(r.file_id, []).append((r.record_idx, int(r.record_id.split(":")[-1])))
    for fid, idx in by_file.items():
        idx.sort()
        assert [i for i, _ in idx] == list(range(len(idx)))
        assert [d for _, d in idx] == sorted(d for _, d in idx)


def test_warc_content_length_detects_corruption(spark):
    """A payload-embedded fake record boundary corrupts the split — the
    declared Content-Length then disagrees with the measured block, and
    content_len_ok flags BOTH fragments (the dead-letter predicate; real
    crawls make this structural via per-record gzip members)."""
    evil = "text with an embedded\r\nWARC/1.0\r\nfake: boundary\r\n\r\nrest"
    docs = _docs(spark, ["clean doc", evil])
    pages = docs.select(
        "doc_id",
        wx.wrap_page(F.col("doc_id"), F.col("lang"), F.col("text")).alias("html"),
    )
    recs = pages.select(
        "doc_id", warc.wrap_record(F.col("doc_id"), F.col("html")).alias("record")
    )
    parsed = warc.parse_warc(warc.group_warc_files(recs, n_files=1))
    rows = parsed.collect()
    flagged = [r for r in rows if not r.content_len_ok or r.warc_content_length is None]
    clean = [r for r in rows if r.content_len_ok and r.record_id == "urn:doc:0"]
    assert len(clean) == 1
    assert flagged  # the corrupted fragments are detectable, not silent


def test_read_warc_files_binary_face(spark, tmp_path):
    """binaryFile reader round trip through a real on-disk .warc file."""
    docs = _docs(spark, ["file face body one", "file face body two"])
    pages = docs.select(
        "doc_id",
        wx.wrap_page(F.col("doc_id"), F.col("lang"), F.col("text")).alias("html"),
    )
    recs = pages.select(
        "doc_id", warc.wrap_record(F.col("doc_id"), F.col("html")).alias("record")
    )
    payload = warc.group_warc_files(recs, n_files=1).collect()[0].payload
    p = tmp_path / "crawl-00000.warc"
    p.write_bytes(payload.encode("utf-8"))
    parsed = warc.parse_warc(warc.read_warc_files(spark, str(p)))
    ex = wx.extract_text(parsed, html_col="html")
    got = sorted(r.text for r in ex.collect())
    assert got == ["file face body one", "file face body two"]


def test_ingest_crawl_to_curation(spark, tmp_path):
    """The full corpus-build story in one chain: WARC files on disk →
    ingest_crawl (parse + extract + url/source/lang derivation) →
    run_curation with the URL-grain stages armed. The crawl head feeds the
    plan exactly the documents shape it wants, url column included."""
    from hypertrace_ingester_spark.plans.curation import (
        CurationConfig,
        ingest_crawl,
        run_curation,
    )

    pages = generate_pages(spark, 80)
    uri = F.concat(
        F.lit("https://www.site"),
        (F.col("page_id") % 4).cast("string"),
        F.lit(".org/p/"),
        F.col("page_id").cast("string"),
    )
    recs = pages.select(
        "page_id",
        warc.wrap_record(F.col("page_id"), F.col("html"), uri=uri).alias("record"),
    )
    payload = warc.group_warc_files(recs, id_col="page_id", n_files=3)
    out_dir = tmp_path / "crawl"
    out_dir.mkdir()
    for i, r in enumerate(payload.collect()):
        (out_dir / f"part-{i:05d}.warc").write_bytes(r.payload.encode("utf-8"))

    docs = ingest_crawl(spark, warc_path=str(out_dir) + "/*.warc")
    rows = docs.collect()
    assert len(rows) == 80
    # source = REGISTERED domain of the target URI (www. stripped by the
    # registrable-domain rule), the per-source grain mixture/datacard use
    assert {r.source for r in rows} == {f"site{k}.org" for k in range(4)}
    assert all(r.lang in PAGE_LANGS for r in rows)
    by_title = {r.title: r for r in rows}
    for i in (0, 7, 41):
        law = page_laws(i)
        assert by_title[f"Page {i}"].text == "\n\n".join(law["paras"])

    cfg = CurationConfig(
        url_dedup=True,
        domain_cap=15,
        quality_filter=False,
        gopher_filter=False,
        redact_pii=False,
        near_dup=False,
    )
    curated, man = run_curation(spark, docs, config=cfg)
    s = man["stages"]
    assert s["input"]["rows"] == 80
    assert s["url_curated"]["rows"] <= 4 * 15
    assert curated.count() > 0
    assert set(curated.select("split").distinct().toPandas()["split"]) <= {
        "train", "val", "test"
    }


ROBOTS_CASES = [
    # (html, noindex, nofollow)
    ('<html><head><meta name="robots" content="noindex, nofollow"></head>'
     "<body>x</body></html>", True, True),
    ('<html><head><meta content="NOINDEX" name="robots"></head>'
     "<body>x</body></html>", True, False),          # reversed attr order
    ('<html><head><meta name="ROBOTS" content="none"></head>'
     "<body>x</body></html>", True, True),           # none = both, any case
    ('<html><head><meta name=robots content=nofollow></head>'
     "<body>x</body></html>", False, True),          # unquoted attrs
    ('<html><head><meta name="robots" content="index, follow"></head>'
     "<body>x</body></html>", False, False),         # explicit allow
    ('<html><head><meta name="googlebot" content="noindex"></head>'
     "<body>x</body></html>", False, False),         # other-bot tag ignored
    ("<html><body>no meta at all</body></html>", False, False),
]


def test_robots_meta_flags(spark):
    df = spark.createDataFrame(
        [(i, h) for i, (h, _, _) in enumerate(ROBOTS_CASES)],
        "id long, html string",
    )
    got = {r["id"]: r for r in wx.robots_meta(df).collect()}
    for i, (_, want_ni, want_nf) in enumerate(ROBOTS_CASES):
        assert got[i]["robots_noindex"] == want_ni, ROBOTS_CASES[i][0]
        assert got[i]["robots_nofollow"] == want_nf, ROBOTS_CASES[i][0]


def test_ingest_crawl_honors_noindex(spark):
    """A page opting out via meta robots never enters the corpus (the
    page-level complement of crawl-time robots.txt); honor_noindex=False
    keeps it, for archival/audit reads."""
    from hypertrace_ingester_spark.plans.curation import ingest_crawl

    body = "<p>" + "real words " * 30 + "</p>"
    pages = [
        (0, '<html lang="en"><head><title>ok</title></head><body>'
            + body + "</body></html>"),
        (1, '<html lang="en"><head><title>optout</title>'
            '<meta name="robots" content="noindex"></head><body>'
            + body + "</body></html>"),
    ]
    df = spark.createDataFrame(pages, "page_id long, html string")
    uri = F.concat(F.lit("https://site.org/p/"), F.col("page_id").cast("string"))
    recs = df.select(
        "page_id",
        warc.wrap_record(F.col("page_id"), F.col("html"), uri=uri).alias("record"),
    )
    payload = warc.group_warc_files(recs, id_col="page_id", n_files=1)
    kept = ingest_crawl(spark, payloads=payload)
    assert [r["title"] for r in kept.collect()] == ["ok"]
    both = ingest_crawl(spark, payloads=payload, honor_noindex=False)
    assert sorted(r["title"] for r in both.collect()) == ["ok", "optout"]


def test_ingest_crawl_nofollow_drops_links_not_page(spark):
    """robots nofollow: the page stays in the corpus but contributes no
    outlinks to the frontier/link graph; a plain page's links survive."""
    from hypertrace_ingester_spark.plans.curation import ingest_crawl

    body = (
        '<a href="https://other.org/x">out</a><p>'
        + "real words " * 30
        + "</p>"
    )
    pages = [
        (0, '<html lang="en"><head><title>linky</title></head><body>'
            + body + "</body></html>"),
        (1, '<html lang="en"><head><title>nf</title>'
            '<meta name="robots" content="nofollow"></head><body>'
            + body + "</body></html>"),
    ]
    df = spark.createDataFrame(pages, "page_id long, html string")
    uri = F.concat(F.lit("https://site.org/p/"), F.col("page_id").cast("string"))
    recs = df.select(
        "page_id",
        warc.wrap_record(F.col("page_id"), F.col("html"), uri=uri).alias("record"),
    )
    payload = warc.group_warc_files(recs, id_col="page_id", n_files=1)
    out = {r["title"]: r for r in
           ingest_crawl(spark, payloads=payload, keep_links=True).collect()}
    assert set(out) == {"linky", "nf"}          # both pages kept
    assert out["linky"]["links"] == ["https://other.org/x"]
    assert out["nf"]["links"] == []             # endorsement withheld
