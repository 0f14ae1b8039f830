"""Text-analysis operators over the ``documents`` table.

Training-data-pipeline extensions (driver mandate): language-ID heuristic,
quality scoring, token counting, document fingerprinting. Everything is
built-in column functions (codegen'd, zero shuffle — pure map stage); each
has a DuckDB-expressible oracle in queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import round_half_up
from .dedup import SHINGLE_K, word_grams

# tiny per-language stopword lists for the n-gram/stopword language heuristic
LANG_STOPWORDS = {
    "en": ["the", "a", "and", "of", "to"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}

# BPE-ish token estimate: word-chunks of ~4 chars (public rule of thumb);
# regexp-based so it stays JVM-side.
BPE_CHARS_PER_TOKEN = 4

# Gopher-style symbol marks (Rae et al. 2021 §A1.1 uses '#' and '…' — the
# ASCII ellipsis spelled '...' is folded in as the common web form).
GOPHER_SYMBOL_RE = r"[#…]|\.\.\."

# PII scrub patterns (C4/RefinedWeb-style pre-training scrub). Kept
# RE2-compatible (no lookarounds) so the DuckDB oracle runs the SAME
# pattern text; ordered dict = deterministic redaction order.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d[\d -]{7,}\d",
}


# Reserved internal columns (refused on input, like ``_nt_orig``): the
# words array each per-doc builder reads, projected ONCE per row, and the
# per-candidate counts an argmax reads.
_WORDS_COL = "_tp_words"
_LANG_PREFIX = "_tp_lang_"
_SCRIPT_PREFIX = "_tp_script_"


def _words(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def _reserve(docs: DataFrame, names) -> None:
    """Refuse input that carries an internal column name (keep_canonical's
    reserved-internal-name rule)."""
    clash = set(names) & set(docs.columns)
    if clash:
        raise ValueError(f"input carries reserved column(s): {sorted(clash)}")


def _stopword_hits(w: Column, stops: list[str]) -> Column:
    """# words that are in the stopword set (word-level, not substring)."""
    return F.size(F.filter(w, lambda x: x.isin(stops)))


def _argmax(df: DataFrame, counts: dict[str, Column], prefix: str):
    """Project each candidate's count ONCE as an internal ``prefix+name``
    column, then argmax over those columns. Returns ``(df, refs, best,
    pick)``: ``refs[name]`` reads a count, ``best`` is ``greatest(counts,
    0)`` and ``pick`` the first name in sorted order whose count equals it
    ('unk' when it is 0) — later names win only on a strictly greater
    count. A nested ``when(c > best, c).otherwise(best)`` chain doubles its
    tree per candidate, and Spark shares no subexpression across CASE
    branches, so it re-ran each count dozens of times per row."""
    names = sorted(counts)
    cols = {n: prefix + n for n in names}
    _reserve(df, cols.values())
    df = df.withColumns({cols[n]: counts[n] for n in names})
    refs = {n: F.col(cols[n]) for n in names}
    best = F.greatest(*refs.values(), F.lit(0))
    pick = F.when(best == 0, F.lit("unk"))
    for n in names[:-1]:
        pick = pick.when(refs[n] == best, F.lit(n))
    return df, refs, best, pick.otherwise(F.lit(names[-1]))


def _over_words(docs: DataFrame, text_col: str, build) -> DataFrame:
    """Project the words array once as a reserved column, run ``build(df,
    text_col, words)`` over it, and drop every internal column. The
    builders reference the array only OUTSIDE lambda bodies: a lambda body
    gets no common-subexpression elimination, so ``split`` there would run
    once per array element."""
    _reserve(docs, [_WORDS_COL])
    out = build(docs.withColumn(_WORDS_COL, _words(text_col)), text_col,
                F.col(_WORDS_COL))
    return out.drop(_WORDS_COL, *(_LANG_PREFIX + lang for lang in LANG_STOPWORDS))


def _token_counts(df: DataFrame, text_col: str, w: Column) -> DataFrame:
    return df.withColumn("n_words", F.size(w)).withColumn(
        "n_tokens_est",
        F.ceil(F.length(F.col(text_col)).cast("double") / BPE_CHARS_PER_TOKEN).cast("int"),
    )


def _language_id(df: DataFrame, text_col: str, w: Column) -> DataFrame:
    df, _, best, pick = _argmax(
        df,
        {lang: _stopword_hits(w, stops) for lang, stops in LANG_STOPWORDS.items()},
        _LANG_PREFIX,
    )
    return df.withColumn("pred_lang", pick).withColumn("lang_score", best.cast("int"))


def _quality_score(df: DataFrame, text_col: str, w: Column) -> DataFrame:
    n_words = F.size(w)
    en = _LANG_PREFIX + "en"  # language_id's count, when it ran in this pass
    en_hits = F.col(en) if en in df.columns else _stopword_hits(w, LANG_STOPWORDS["en"])
    mean_wlen = round_half_up(
        F.aggregate(w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)).cast("double")
        / F.greatest(n_words, F.lit(1)),
        2,
    )
    stop_ratio = round_half_up(en_hits.cast("double") / F.greatest(n_words, F.lit(1)), 3)
    return (
        df.withColumn("n_words", n_words)
        .withColumn("mean_word_len", mean_wlen)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn(
            "quality_keep",
            (F.col("n_words") >= 10)
            & (F.col("mean_word_len") >= 2.0)
            & (F.col("mean_word_len") <= 12.0),
        )
    )


def _repetition_signals(df: DataFrame, text_col: str, w: Column) -> DataFrame:
    n = F.size(w)
    g = F.greatest(n, F.lit(1))
    bigrams = word_grams(w, 2)
    n2 = F.size(bigrams)
    dup_word = round_half_up(
        (n - F.size(F.array_distinct(w))).cast("double") / g, 3)
    dup_2gram = round_half_up(
        (n2 - F.size(F.array_distinct(bigrams))).cast("double")
        / F.greatest(n2, F.lit(1)), 3)
    symbol_ratio = round_half_up(
        F.regexp_count(F.col(text_col), F.lit(GOPHER_SYMBOL_RE)).cast("double") / g, 3)
    alpha_frac = round_half_up(
        F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))).cast("double") / g, 3)
    return (
        df.withColumn("dup_word_frac", dup_word)
        .withColumn("dup_2gram_frac", dup_2gram)
        .withColumn("symbol_word_ratio", symbol_ratio)
        .withColumn("alpha_word_frac", alpha_frac)
        .withColumn(
            "gopher_keep",
            (F.col("alpha_word_frac") >= 0.8)
            & (F.col("symbol_word_ratio") <= 0.1)
            & (F.col("dup_2gram_frac") <= 0.2)
            & (F.col("dup_word_frac") <= 0.5),
        )
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID: score each language by stopword hits,
    predict the argmax (deterministic tiebreak: language name order),
    'unk' when nothing scores. Same structure as fasttext-style n-gram
    voting, reduced to an auditable SQL-expressible rule."""
    return _over_words(docs, text_col, _language_id)


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features: word count, mean word length, stopword
    ratio, and a composite keep/drop flag (Gopher-rules-style thresholds)."""
    return _over_words(docs, text_col, _quality_score)


def repetition_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition/quality filters (Rae et al. 2021, public):
    duplicate-word fraction, duplicate-2-gram fraction, symbol-to-word
    ratio, alpha-word fraction, and the composite ``gopher_keep`` flag.
    All pure column expressions (one map stage, codegen'd) — the shape a
    web-scale curation pass runs before any dedup shuffle. Ratios use
    ``round_half_up`` so the DuckDB oracle restates them bit-identically."""
    return _over_words(docs, text_col, _repetition_signals)


def c4_line_signals(
    docs: DataFrame,
    text_col: str = "text",
    min_line_words: int = 5,
    min_sentences: int = 3,
    badwords: list[str] | None = None,
) -> DataFrame:
    """C4 line-level cleaning heuristics (Raffel et al. 2020 §2.2, public):
    a line survives only if it ends in terminal punctuation, has at least
    ``min_line_words`` words, and does not mention "javascript"; the page
    is kept (``c4_keep``) only if it never says "lorem ipsum", contains no
    curly brace (code marker), the cleaned text still has at least
    ``min_sentences`` sentences, and — when a ``badwords`` list is supplied
    — no word of the page matches the list (C4's page-level blocklist
    filter; the published recipe uses the LDNOOBW list, which the CALLER
    provides as data — word-boundary, case-insensitive, whole-word match,
    so 'class' never trips a 'lass' entry). Emits the cleaned ``text_c4``
    plus audit columns. Pure column expressions over one split — a
    map-only stage that runs BEFORE any dedup shuffle (C4 applies it
    pre-dedup), and every predicate is restatable by the DuckDB oracle
    verbatim."""
    lines = F.split(F.col(text_col), "\n")

    def line_keep(ln):
        words = F.filter(F.split(ln, " "), lambda x: x != "")
        return (
            ln.rlike('[.!?"]$')
            & (F.size(words) >= min_line_words)
            & ~F.lower(ln).contains("javascript")
        )

    kept = F.filter(lines, line_keep)
    text_c4 = F.array_join(kept, "\n")
    return (
        docs.withColumn("n_lines", F.size(lines).cast("int"))
        .withColumn("n_kept_lines", F.size(kept).cast("int"))
        .withColumn("text_c4", text_c4)
        .withColumn(
            "n_sentences",
            F.regexp_count(F.col("text_c4"), F.lit(r"[.!?]")).cast("int"),
        )
        .withColumn("has_lorem_ipsum", F.lower(F.col(text_col)).contains("lorem ipsum"))
        .withColumn("has_brace", F.col(text_col).contains("{"))
        .withColumn("has_badword", _badword_hit(F.col(text_col), badwords))
        .withColumn(
            "c4_keep",
            ~F.col("has_lorem_ipsum")
            & ~F.col("has_brace")
            & ~F.col("has_badword")
            & (F.col("n_sentences") >= min_sentences),
        )
    )


def _badword_hit(text: Column, badwords: list[str] | None) -> Column:
    """Whole-word, case-insensitive page-blocklist predicate (one alternation
    regexp — a single codegen'd pass regardless of list size; the LDNOOBW
    list is ~400 entries, far below regex-size limits)."""
    if not badwords:
        return F.lit(False)
    import re as _re

    pat = r"(?i)\b(?:" + "|".join(_re.escape(w) for w in badwords) + r")\b"
    return F.regexp_count(text, F.lit(pat)) > 0


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """C4/RefinedWeb-style PII scrub: per-doc match counts for each
    ``PII_PATTERNS`` class (on the ORIGINAL text — an address like
    ``a@1.2.3.4`` legitimately counts as both email and ip) plus
    ``text_redacted`` with matches replaced by ``<EMAIL>``/``<IP>``/
    ``<PHONE>`` sequentially in pattern order (email first, so an
    email's host is masked before the ip pass). Pure regexp column
    expressions — one map stage; patterns are RE2-compatible so the
    DuckDB oracle evaluates the identical pattern text."""
    out = docs
    redacted = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)).cast("int"))
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    out = out.withColumn("text_redacted", redacted)
    return out.withColumn(
        "pii_free",
        sum(F.col(f"n_{n}") for n in PII_PATTERNS) == 0,
    )


def text_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """All per-doc text metrics in ONE map-stage pass: token counts,
    language ID, quality features, normalized fingerprint, and the distinct
    shingle count (the primitive under MinHash/Jaccard dedup). One scan of
    the text column instead of five — at 100 TB the scan dominates, so the
    fused profile is the shape a real curation pipeline runs."""

    def build(df: DataFrame, text_col: str, w: Column) -> DataFrame:
        for step in (_token_counts, _language_id, _quality_score):
            df = step(df, text_col, w)
        df = fingerprint(df, text_col).withColumn(
            "n_shingles", F.size(F.array_distinct(word_grams(w, SHINGLE_K))))
        return _repetition_signals(df, text_col, w)

    return pii_scrub(_over_words(docs, text_col, build), text_col)


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized content fingerprint: md5 over lowercased,
    whitespace-collapsed text (md5 for DuckDB-oracle parity; xxhash64 at
    scale). The rolling-hash variant for chunk-level dedup is the shingle
    pipeline in dedup.py."""
    normalized = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return docs.withColumn("doc_fp", F.md5(normalized))


# C0/C1 control chars except \t \n \r, plus zero-width chars and BOM —
# the bytes a crawl drags in that tokenizers choke on. JVM-expressible.
CONTROL_CHARS_RE = (
    "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f"
    "\\u200b-\\u200d\\u2060\\ufeff]"
)


def normalize_text(
    docs: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    strip_controls: bool = True,
) -> DataFrame:
    """Unicode normalization + control-char scrub — the corpus first-mile
    cleanup every public recipe runs before anything tokenizes (CCNet
    normalizes unicode before LM scoring; OSCAR/C4 strip control bytes):
    replaces ``text_col`` with its ``form``-normalized (NFC default) text,
    control/zero-width/BOM chars removed, and appends ``was_normalized``
    (True where any byte changed — the audit column).

    Plan shape: the control strip is a JVM ``regexp_replace`` (codegen);
    the normalization itself has no Spark builtin, so it is ONE
    Arrow-batched pass (``unicodedata.normalize`` over each batch) —
    map-only, zero shuffle, and the dominant cost is the same
    payload-through-Arrow traffic as any mapInPandas stage. Docs already
    in ``form`` (the overwhelming majority of real text) round-trip
    byte-identically, so the op is idempotent. DuckDB's ``nfc_normalize``
    restates the NFC form for the oracle tests."""
    from pyspark.sql import types as T

    _reserve(docs, ["_nt_orig"])
    pre = (
        F.regexp_replace(F.col(text_col), CONTROL_CHARS_RE, "")
        if strip_controls
        else F.col(text_col)
    )
    staged = docs.withColumn("_nt_orig", F.col(text_col)).withColumn(
        text_col, pre
    )
    fields = list(staged.schema.fields)
    out_schema = T.StructType(
        [f for f in fields if f.name != "_nt_orig"]
        + [T.StructField("was_normalized", T.BooleanType(), False)]
    )
    names = [f.name for f in out_schema.fields]

    def _norm(batches):
        import unicodedata

        for pdf in batches:
            orig = pdf.pop("_nt_orig")
            pdf[text_col] = [
                unicodedata.normalize(form, t) if t is not None else None
                for t in pdf[text_col]
            ]
            pdf["was_normalized"] = [
                (t or "") != (o or "")
                for t, o in zip(pdf[text_col], orig)
            ]
            yield pdf[names]

    return staged.mapInPandas(_norm, schema=out_schema)


def _bigram_structs(text_col: str) -> Column:
    """Adjacent word pairs as struct<w_prev, w>, built map-side from the
    words array (no self-join, no window). Zipped shifted slices, like
    ``dedup.word_grams``: the lambda sees only its own variables."""
    w = _words(text_col)
    m = F.size(w) - 1
    pairs = F.zip_with(
        F.slice(w, 1, m), F.slice(w, 2, m),
        lambda a, b: F.struct(a.alias("w_prev"), b.alias("w")),
    )
    return F.when(F.size(w) >= 2, pairs).otherwise(
        F.array().cast("array<struct<w_prev:string,w:string>>")
    )


def train_bigram_lm(model_docs: DataFrame, text_col: str = "text"):
    """Count tables for a word-bigram LM with add-alpha smoothing — the
    CCNet-style quality model (Wenzek et al. 2020 train a small LM on a
    trusted corpus and score crawl docs by perplexity; this is the n-gram
    form of that recipe, kept in pure DataFrame ops so training IS a
    distributed aggregation).

    Returns ``(uni, bi, stats)``: unigram counts ``(w, c1)``, bigram counts
    ``(w_prev, w, c2)``, and a single-row ``(vocab, total_tokens)`` frame.
    Scale shape: token/bigram streams are built map-side from the words
    array (no self-join); each count table is one partial-agg'd shuffle on
    the gram key; the trusted training corpus is normally ≪ the scored
    corpus, so the count tables broadcast at score time."""
    tokens = model_docs.select(F.explode(_words(text_col)).alias("w"))
    uni = tokens.groupBy("w").agg(F.count("*").cast("long").alias("c1"))
    bi = (
        model_docs.select(F.explode(_bigram_structs(text_col)).alias("b"))
        .select("b.w_prev", "b.w")
        .groupBy("w_prev", "w")
        .agg(F.count("*").cast("long").alias("c2"))
    )
    stats = uni.agg(
        F.count("*").cast("long").alias("vocab"),
        F.sum("c1").cast("long").alias("total_tokens"),
    )
    return uni, bi, stats


def ngram_lm_perplexity(
    docs: DataFrame,
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-doc bigram-LM perplexity (CCNet quality filter): score each doc
    by the add-alpha-smoothed average negative log-likelihood under a
    bigram model (``model`` from :func:`train_bigram_lm`; defaults to
    self-training on ``docs``) —

        p(w_1)         = (c1(w_1) + α) / (T + α·V)
        p(w_i|w_{i-1}) = (c2(w_{i-1}, w_i) + α) / (c1(w_{i-1}) + α·V)
        ppl(doc)       = exp(−Σ ln p / n_terms)

    Unseen words/bigrams fall back to the α mass (counts coalesce to 0).
    Returns ``(doc_id, n_terms, sum_logp, ppl)``. Scale shape: the doc side
    explodes map-side; the two count joins broadcast when the model corpus
    is small (the CCNet case) or shuffle on the gram key otherwise; the
    final rollup is one partial-agg'd groupBy on the doc id. ``alpha``
    defaults to 0.5 (binary-exact, keeps the DuckDB oracle bit-stable)."""
    uni, bi, stats = model if model is not None else train_bigram_lm(docs, text_col)
    b_stats = F.broadcast(stats)

    firsts = docs.select(
        F.col(id_col), F.element_at(_words(text_col), 1).alias("w")
    )
    first_terms = (
        firsts.join(uni, "w", "left")
        .crossJoin(b_stats)
        .select(
            F.col(id_col),
            F.log(
                (F.coalesce("c1", F.lit(0)) + F.lit(alpha))
                / (F.col("total_tokens") + F.lit(alpha) * F.col("vocab"))
            ).alias("logp"),
        )
    )
    doc_bi = docs.select(
        F.col(id_col), F.explode(_bigram_structs(text_col)).alias("b")
    ).select(id_col, "b.w_prev", "b.w")
    prev_uni = uni.select(F.col("w").alias("w_prev"), F.col("c1").alias("c1_prev"))
    bi_terms = (
        doc_bi.join(bi, ["w_prev", "w"], "left")
        .join(prev_uni, "w_prev", "left")
        .crossJoin(b_stats)
        .select(
            F.col(id_col),
            F.log(
                (F.coalesce("c2", F.lit(0)) + F.lit(alpha))
                / (F.coalesce("c1_prev", F.lit(0)) + F.lit(alpha) * F.col("vocab"))
            ).alias("logp"),
        )
    )
    return (
        first_terms.unionByName(bi_terms)
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("logp").alias("sum_logp"),
        )
        .withColumn("ppl", F.exp(-F.col("sum_logp") / F.col("n_terms")))
    )


def perplexity_buckets(
    scored: DataFrame,
    ppl_col: str = "ppl",
    by: tuple[str, ...] = ("lang",),
    cuts: tuple[float, ...] = (1.0 / 3.0, 2.0 / 3.0),
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    exact: bool = True,
) -> DataFrame:
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.3): within
    each ``by`` group (per language in CCNet), cut the corpus at the given
    perplexity quantiles — LOWER perplexity = closer to the trusted LM =
    ``head``. Adds ``ppl_bucket`` to ``scored`` (rows from
    :func:`ngram_lm_perplexity`, or any frame carrying ``ppl_col``).

    Cut points are a GROUP-grain aggregate (rows bounded by the group dim)
    broadcast back onto the docs. ``exact=True`` selects order statistics
    by rank (bit-stable across engines/partitionings — the oracle-parity
    and small-SF default, at the cost of a per-group window sort);
    ``exact=False`` uses the mergeable ``percentile_approx`` sketch — one
    partial-agg shuffle and no sort, the 100 TB path (same trade as
    datacard.corpus_datacard). A doc lands in the first bucket whose cut
    its perplexity is <= ; ties go to the lower bucket, so the head stays
    generous the way CCNet's paste-up does.

    ``scored`` is referenced TWICE (the cut aggregate and the output
    join) — at scale, persist/localCheckpoint the expensive part of its
    lineage first (the curation plan's ccnet stage checkpoints the narrow
    ``(doc_id, ppl)`` frame so LM scoring runs once)."""
    if len(labels) != len(cuts) + 1:
        raise ValueError(f"need len(labels) == len(cuts)+1, got "
                         f"{len(labels)} labels / {len(cuts)} cuts")
    _reserve(scored, {"_pb_g", "_pb_rk", "_pb_n"}
             | {f"_pb_cut{i}" for i in range(len(cuts))})
    gcols = list(by) if by else []
    gexprs = [F.col(c) for c in gcols] or [F.lit(1).alias("_pb_g")]
    gnames = gcols or ["_pb_g"]
    cut_names = [f"_pb_cut{i}" for i in range(len(cuts))]
    if exact:
        from pyspark.sql import Window

        w = Window.partitionBy(*gnames).orderBy(ppl_col)
        ranked = (
            scored.select(*gexprs, F.col(ppl_col))
            .withColumn("_pb_rk", F.row_number().over(w))
            .withColumn("_pb_n", F.count(F.lit(1)).over(
                Window.partitionBy(*gnames)))
        )
        # order statistic at ceil(q*n): the value is deterministic even
        # under ppl ties (rank selection picks the VALUE, not the row)
        aggs = [
            F.min(
                F.when(
                    F.col("_pb_rk")
                    == F.greatest(F.lit(1), F.ceil(F.lit(q) * F.col("_pb_n"))),
                    F.col(ppl_col),
                )
            ).alias(name)
            for q, name in zip(cuts, cut_names)
        ]
        cut_rows = ranked.groupBy(*gnames).agg(*aggs)
    else:
        cut_rows = scored.select(*gexprs, F.col(ppl_col)).groupBy(*gnames).agg(
            *[F.percentile_approx(ppl_col, q, 10_000).alias(name)
              for q, name in zip(cuts, cut_names)]
        )
    base = scored if gcols else scored.withColumn("_pb_g", F.lit(1))
    joined = base.join(F.broadcast(cut_rows), on=gnames, how="left")
    bucket = None
    for name, label in zip(cut_names, labels[:-1]):
        cond = F.col(ppl_col) <= F.col(name)
        bucket = F.when(cond, F.lit(label)) if bucket is None \
            else bucket.when(cond, F.lit(label))
    bucket = bucket.otherwise(F.lit(labels[-1]))
    return joined.withColumn("ppl_bucket", bucket).drop(*cut_names, "_pb_g")


# Unicode script classes as LITERAL character ranges — the same bytes go
# into the Spark (Java regex) and DuckDB (RE2) patterns, so the oracle
# evaluates the identical class. Order = deterministic argmax tiebreak.
SCRIPT_CLASSES = {
    "arabic": "[؀-ۿݐ-ݿ]",
    "cjk": "[一-鿿぀-ヿㇰ-ㇿ가-힯]",
    "cyrillic": "[Ѐ-ӿ]",
    "devanagari": "[ऀ-ॿ]",
    "greek": "[Ͱ-Ͽ]",
    "latin": "[A-Za-zÀ-ɏ]",
}


def script_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc Unicode SCRIPT detection — the gate that extends the
    stopword-vote ``language_id`` (Latin-alphabet languages only) to the
    rest of the web: FineWeb/CCNet-style pipelines drop or reroute pages
    whose dominant script doesn't match the target corpus before any
    language-specific stage runs.

    Adds ``n_script_chars`` (chars in ANY known class), one
    ``frac_<script>`` column per class (fraction of classified chars —
    digits/punct/space are neutral), ``pred_script`` (argmax,
    deterministic name-order tiebreak, 'unk' when no classified chars)
    and ``script_confidence`` (winning fraction).

    Scale shape: one ``regexp_count`` per class fused into the same scan
    (pure codegen'd column math, zero shuffle — the d_text_profile
    fusion argument); the ranges are literal characters so a DuckDB
    oracle restates every count bit-identically."""
    out, counts, best, pick = _argmax(
        docs,
        {name: F.regexp_count(F.col(text_col), F.lit(cls))
         for name, cls in SCRIPT_CLASSES.items()},
        _SCRIPT_PREFIX,
    )
    out = out.withColumn("n_script_chars", sum(counts.values()).cast("long"))
    for name in sorted(SCRIPT_CLASSES):
        out = out.withColumn(
            f"frac_{name}",
            F.when(
                F.col("n_script_chars") > 0,
                round_half_up(
                    counts[name].cast("double")
                    / F.col("n_script_chars"), 4),
            ).otherwise(F.lit(0.0)),
        )
    return out.withColumn("pred_script", pick).withColumn(
        "script_confidence",
        F.when(
            F.col("n_script_chars") > 0,
            round_half_up(best.cast("double") / F.col("n_script_chars"), 4),
        ).otherwise(F.lit(0.0)),
    ).drop(*(_SCRIPT_PREFIX + name for name in SCRIPT_CLASSES))
