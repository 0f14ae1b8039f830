"""HTML → text extraction (boilerplate removal) — the first mile of a
web-scale corpus pipeline (crawl bytes → HTML → clean training text).

The reference ingester starts at already-structured spans
(span-normalizer's RawSpan input); a training-data pipeline over the same
engine starts one stage earlier, at raw crawl HTML. This module supplies
that stage (driver-mandate training-data extension), as the same kind of
regex field-extraction the parse stage does for tags
(`span-normalizer/.../JaegerSpanNormalizer.java` extracts typed fields
from raw KeyValue bytes; here typed page fields come out of raw markup).

Method: justext / Arc90-readability block classification reduced to two
auditable rules. A page is split into BLOCKS on closing block-level tags;
each block gets a word count and an anchor count; a block is boilerplate
when it is too short (``min_words``) or too link-dense
(``n_links / n_words > max_link_density`` — navigation bars, footers,
link farms). Every step is built-in column functions (regexp_replace /
split / transform / filter / array_join): JVM whole-stage codegen, zero
shuffle, no Python in the path.

Losslessness contract: extraction preserves kept block text
byte-for-byte — trimming/whitespace-normalization happen only on the
stats view used by the keep rule, never on the emitted text. Verified
under the driver gate by threading the ``documents`` table through
``wrap_page`` → WARC wrap/parse (sources/warc.py) → ``extract_text`` and
matching the UNCHANGED ``d_text_profile`` oracle, whose ``redacted_fp``
is an md5 of the raw text: the hash only matches if the wrap → split →
strip → unescape round trip returns every byte (the multimodal
generative-law proof pattern, COVERAGE.md).

Scale: pure map stage — at 100 TB of WARC the extraction fuses into the
scan (one pass, codegen'd); the only shuffle in the whole first mile is
whatever the downstream stage (dedup/profile) needs anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Closing tags (and <br>) that end a text block. Case-insensitive.
BLOCK_SPLIT_RE = (
    r"(?i)</(?:p|div|li|ul|ol|dl|h[1-6]|nav|footer|header|aside|section|"
    r"article|main|tr|table|blockquote|pre|figure)>|<br\s*/?>"
)

# Elements whose entire content is never text: dropped before block split.
_DROP_CONTENT_RE = r"(?is)<(script|style|noscript|template)\b[^>]*>.*?</\1>"
_COMMENT_RE = r"(?s)<!--.*?-->"
_TAG_RE = r"(?s)<[^>]*>"

# boilerplate wrapped around every page by wrap_page (gate/test synthesis):
# a 3-link nav and a 2-link footer — both fail the link-density rule — plus
# script/style/comment junk the content filter must strip.
_NAV = (
    '<nav><a href="/">Home</a> <a href="/about">About</a> '
    '<a href="/contact">Contact</a></nav>'
)
_FOOTER = (
    '<footer><a href="/tos">Terms</a> <a href="/privacy">Privacy</a>'
    "</footer>"
)
_HEAD_JUNK = (
    "<script>var t=performance.now();</script>"
    "<style>body{margin:0}</style>"
    "<!-- rendered by synthcrawl -->"
)


def escape_html(col: Column) -> Column:
    """Entity-escape text for embedding in markup. ``&`` first so later
    replacements never double-escape."""
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    out = F.replace(out, F.lit(">"), F.lit("&gt;"))
    return F.replace(out, F.lit('"'), F.lit("&quot;"))


def unescape_html(col: Column) -> Column:
    """Reverse :func:`escape_html` (+ the common extras real pages carry).
    ``&amp;`` LAST — the exact inverse ordering, so escape∘unescape is the
    identity on arbitrary text."""
    out = F.replace(col, F.lit("&lt;"), F.lit("<"))
    out = F.replace(out, F.lit("&gt;"), F.lit(">"))
    out = F.replace(out, F.lit("&quot;"), F.lit('"'))
    out = F.replace(out, F.lit("&#39;"), F.lit("'"))
    out = F.replace(out, F.lit("&nbsp;"), F.lit(" "))
    return F.replace(out, F.lit("&amp;"), F.lit("&"))


def wrap_page(
    doc_id: Column,
    lang: Column,
    text: Column,
    title: Column | None = None,
) -> Column:
    """Deterministic HTML page around ``text``: head junk, a nav, one
    content ``<p>`` holding the escaped text, a footer. No whitespace
    between structural elements, so block segments carry no padding and
    extraction can be byte-exact. The page ``lang`` attribute and the
    ``<title>`` round-trip the row's lang/doc_id through the markup."""
    if title is None:
        title = F.concat(F.lit("Doc "), doc_id.cast("string"))
    return F.concat(
        F.lit('<!DOCTYPE html><html lang="'),
        lang,
        F.lit('"><head><title>'),
        escape_html(title),
        F.lit("</title>"),
        F.lit(_HEAD_JUNK),
        F.lit("</head><body>"),
        F.lit(_NAV),
        F.lit("<p>"),
        escape_html(text),
        F.lit("</p>"),
        F.lit(_FOOTER),
        F.lit("</body></html>"),
    )


def _strip_tags(seg: Column) -> Column:
    """Raw block text: tags out FIRST, entities back SECOND — content
    ``<``/``>`` are entity-escaped in valid markup, so after tag removal
    the unescape can only restore content bytes, never create tags."""
    return unescape_html(F.regexp_replace(seg, _TAG_RE, ""))


def _word_count(raw: Column) -> Column:
    t = F.trim(raw)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def extract_text(
    df: DataFrame,
    html_col: str = "html",
    min_words: int = 0,
    max_link_density: float = 0.35,
    out_col: str = "text",
) -> DataFrame:
    """Boilerplate-removal extraction: page metadata + clean text.

    Adds ``page_lang`` (html lang attribute), ``page_title``, ``out_col``
    (kept blocks joined with a blank line), ``n_blocks`` / ``n_blocks_kept``.
    Keep rule per block: ``n_words >= min_words`` AND
    ``n_links <= max_link_density * max(n_words, 1)``. ``min_words=0``
    still drops word-less blocks (pure-markup segments contribute no
    text and would otherwise pad the join).
    """
    html = F.col(html_col)
    lang = F.regexp_extract(html, r"(?is)<html[^>]*\blang=[\"']?([A-Za-z-]+)", 1)
    title = _strip_tags(
        F.regexp_extract(html, r"(?is)<title[^>]*>(.*?)</title>", 1)
    )
    cleaned = F.regexp_replace(html, r"(?is)<head\b.*?</head>", "")
    cleaned = F.regexp_replace(cleaned, _DROP_CONTENT_RE, "")
    cleaned = F.regexp_replace(cleaned, _COMMENT_RE, "")

    segs = F.split(cleaned, BLOCK_SPLIT_RE)
    # strip each segment ONCE (zip_with over a pre-stripped array), then
    # derive words from the stripped text and links from the raw segment —
    # the tag-strip regexp is the expensive pass at crawl scale.
    blocks = F.zip_with(
        F.transform(segs, _strip_tags),
        segs,
        lambda raw, seg: F.struct(
            raw.alias("raw"),
            _word_count(raw).alias("n_words"),
            F.regexp_count(seg, F.lit(r"(?i)<a[\s>]")).alias("n_links"),
        ),
    )
    # Materialize the block array ONCE behind a Generate barrier (1-element
    # explode): higher-order-function expressions are not whole-stage
    # codegen'd and get NO interpreted CSE, so without the barrier Catalyst's
    # project-collapse duplicates the tag-strip regexp work into every
    # output column that references it (measured 2.2× at 100k pages).
    # Generate emits `_wx_blocks` as an attribute; downstream projections
    # reference the attribute, never the expression.
    with_blocks = df.select("*", F.explode(F.array(blocks)).alias("_wx_blocks"))
    b = F.col("_wx_blocks")
    kept = F.filter(
        b,
        lambda x: (x["n_words"] >= F.greatest(F.lit(min_words), F.lit(1)))
        & (
            x["n_links"].cast("double")
            <= F.lit(max_link_density) * F.greatest(x["n_words"], F.lit(1))
        ),
    )
    return (
        with_blocks.withColumn("page_lang", lang)
        .withColumn("page_title", title)
        .withColumn("n_blocks", F.size(b))
        .withColumn("n_blocks_kept", F.size(kept))
        .withColumn(
            out_col,
            F.array_join(F.transform(kept, lambda x: x["raw"]), "\n\n"),
        )
        .drop("_wx_blocks")
    )


def extract_links(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Outlink extraction (``href`` values) — the crawl-frontier feed into
    the URL-curation ops (operators/weburl.py canonical_url / blocklist)."""
    return df.withColumn(
        "links",
        F.regexp_extract_all(
            F.col(html_col), F.lit(r"""(?i)<a[^>]+href=["']([^"'#]+)"""), F.lit(1)
        ),
    )


def robots_meta(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Meta-robots compliance flags: ``robots_noindex`` /
    ``robots_nofollow`` booleans from ``<meta name="robots" ...>`` (both
    attribute orders; ``none`` implies both, per the robots-meta spec).
    Pages without the tag are False — indexable is the web default.
    Responsible corpus builds honor noindex the way they honor
    robots.txt (C4/CCNet build from Common Crawl, which already enforces
    robots.txt at fetch time; the meta tag is the page-level opt-out that
    survives into the archive and must be enforced at extraction).
    Pure column regexps — fuses into the extraction scan, zero shuffle."""
    html = F.col(html_col)
    name_first = F.regexp_extract(
        html,
        r"""(?is)<meta\b[^>]*\bname\s*=\s*["']?robots\b[^>]*\bcontent\s*=\s*["']?([^"'>]*)""",
        1,
    )
    content_first = F.regexp_extract(
        html,
        r"""(?is)<meta\b[^>]*\bcontent\s*=\s*["']?([^"'>]*)["'][^>]*\bname\s*=\s*["']?robots\b""",
        1,
    )
    directives = F.lower(F.concat_ws(",", name_first, content_first))
    return df.withColumn(
        "robots_noindex", directives.rlike(r"(^|[,\s])(noindex|none)($|[,\s])")
    ).withColumn(
        "robots_nofollow", directives.rlike(r"(^|[,\s])(nofollow|none)($|[,\s])")
    )


def roundtrip_documents(docs: DataFrame, n_files: int = 32) -> DataFrame:
    """Reconstruct ``(doc_id, lang, text)`` from the documents table by way
    of the full crawl first mile: wrap each doc as an HTML page, wrap pages
    as WARC response records, concatenate records into synthetic WARC file
    payloads, then parse the files back and boilerplate-extract the text.

    Used by the gated ``d_text_profile`` catalog entry: its DuckDB oracle
    reads the RAW documents table and hashes the raw text, so Spark only
    matches if every stage here — record split, header parse, HTTP body
    boundary, tag strip, entity unescape, block keep-rule — returns every
    byte and every row exactly (the multimodal-pattern end-to-end proof).
    ``lang`` rides the html lang attribute, ``doc_id`` the WARC-Record-ID.
    """
    from ..sources import warc

    pages = docs.select(
        F.col("doc_id"),
        wrap_page(F.col("doc_id"), F.col("lang"), F.col("text")).alias("html"),
    )
    records = pages.select(
        "doc_id", warc.wrap_record(F.col("doc_id"), F.col("html")).alias("record")
    )
    # pin file-grain width to the cluster's cores: the group_warc_files
    # shuffle emits n_files rows whose BYTE size is tiny by AQE's
    # accounting, so adaptive coalescing folds them into ONE partition —
    # and every downstream regexp stage (record split, header parse, tag
    # strip, the fused profile in d_text_profile) inherits that width,
    # serializing the whole chain onto one core (measured: roundtrip+profile
    # 7.22 s → 1.11 s at sf0.1). An explicit repartition(n) is exempt from
    # AQE coalescing. The width is ``defaultParallelism`` (sources.widen's
    # rule), not n_files: a fixed 32 ran 32 tasks and wrote 32 result files
    # on a 4-core box. Real ingestion gets its width from the many-files scan.
    width = docs.sparkSession.sparkContext.defaultParallelism
    files = warc.group_warc_files(records, n_files=n_files).repartition(width)
    parsed = warc.parse_warc(files).filter(
        (F.col("warc_type") == "response") & F.col("content_len_ok")
    )
    extracted = extract_text(parsed, html_col="html")
    return extracted.select(
        F.nullif(
            F.regexp_extract(F.col("record_id"), r"urn:doc:(-?\d+)", 1), F.lit("")
        )
        .cast("long")
        .alias("doc_id"),
        F.col("page_lang").alias("lang"),
        F.col("text"),
    )


# ---------------------------------------------------------------------------
# Deterministic page generator (closed-form laws over the row index) — the
# richer structural fixture for tests: multi-paragraph pages, varying nav
# sizes, an occasional link farm, so the keep rule is exercised beyond the
# single-block gate wrap. Laws are restatable in plain python/SQL.
# ---------------------------------------------------------------------------

PAGE_LANGS = ["en", "es", "fr"]


def page_laws(i: int) -> dict:
    """Expected structure of generated page ``i`` (shared with tests)."""
    n_paras = 1 + i % 4
    para_words = [5 + (i + j) % 5 for j in range(n_paras)]
    return {
        "lang": PAGE_LANGS[i % 3],
        "title": f"Page {i}",
        "n_paras": n_paras,
        "para_words": para_words,
        "nav_links": 2 + i % 3,
        "has_linkfarm": i % 5 == 0,
        "paras": [
            " ".join(f"tok{(i * 7 + j * 3 + k) % 11}" for k in range(para_words[j]))
            for j in range(n_paras)
        ],
    }


def generate_pages(spark, n_rows: int, partitions: int = 8) -> DataFrame:
    """Law-driven synthetic pages (JVM-side, seedless — pure index math,
    same style as operators/multimodal.generate_media)."""
    i = F.col("id")
    n_paras = F.lit(1) + i % 4
    para = lambda j: F.array_join(  # noqa: E731
        F.transform(
            F.sequence(F.lit(0), F.lit(4) + (i + F.lit(j)) % 5),
            lambda k: F.concat(
                F.lit("tok"), ((i * 7 + F.lit(j * 3) + k) % 11).cast("string")
            ),
        ),
        " ",
    )
    paras = F.concat_ws(
        "",
        *[
            F.when(F.lit(j) < n_paras, F.concat(F.lit("<p>"), para(j), F.lit("</p>"))).otherwise("")
            for j in range(4)
        ],
    )
    nav = F.concat(
        F.lit("<nav>"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(1) + i % 3),
                lambda k: F.concat(
                    F.lit('<a href="/s'), k.cast("string"), F.lit('">L'),
                    k.cast("string"), F.lit("</a>"),
                ),
            ),
            " ",
        ),
        F.lit("</nav>"),
    )
    linkfarm = F.when(
        i % 5 == 0,
        F.lit(
            '<aside><a href="/a">ad one</a> <a href="/b">ad two</a> '
            '<a href="/c">ad three</a> <a href="/d">ad four</a></aside>'
        ),
    ).otherwise("")
    html = F.concat(
        F.lit('<!DOCTYPE html><html lang="'),
        F.element_at(F.array(*[F.lit(x) for x in PAGE_LANGS]), (i % 3 + 1).cast("int")),
        F.lit('"><head><title>Page '),
        i.cast("string"),
        F.lit("</title>"),
        F.lit(_HEAD_JUNK),
        F.lit("</head><body>"),
        nav,
        paras,
        linkfarm,
        F.lit(_FOOTER),
        F.lit("</body></html>"),
    )
    return (
        spark.range(0, n_rows, numPartitions=partitions)
        .withColumn("page_id", i)
        .withColumn("html", html)
        .drop("id")
    )
