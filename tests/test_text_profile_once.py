"""Per-document text signals are evaluated once per row.

Three groups:

- plan shape: each argmax count appears once in the optimized plan, the
  mean-word-length aggregate once, and no lambda body references a
  column or re-splits the text (a lambda body gets no common-subexpression
  elimination, so ``split(text)`` there runs once per array element);
- edge-case parity against a plain-Python reference: null / empty text,
  all-zero counts, argmax ties, 0-4-word docs and double spaces;
- the WARC round trip runs at the cluster's width whatever its file count.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from hypertrace_ingester_spark.operators import dedup as dd
from hypertrace_ingester_spark.operators import text as txt
from hypertrace_ingester_spark.operators import webextract as wx

EDGE_TEXTS = [
    None,                      # null text
    "",                        # one empty word
    "word",                    # 1 word
    "a b",                     # 2 words
    "a b a",                   # 3 words
    "a b a b",                 # 4 words
    "x  y",                    # double space: an empty middle word
    "  ",                      # three empty words
    "the el",                  # en/es tie -> 'en'
    "la",                      # es/fr tie -> 'es'
    "der the",                 # de/en tie -> 'de'
    "und the la la",           # es/fr lead with 2
    "12345 !!! ...",           # no script chars
    "абв αβγ",                 # cyrillic/greek tie -> 'cyrillic'
    "abc абв",                 # cyrillic/latin tie -> 'cyrillic'
    "привет привет αβγδ",      # cyrillic majority
    "你好 ab",                  # cjk/latin tie -> 'cjk'
    "the cat and the dog of the house, to a mat",
]


def _plan(df) -> str:
    spark = df.sparkSession
    key = "spark.sql.debug.maxToStringFields"
    old = spark.conf.get(key)
    spark.conf.set(key, "100000")  # no "... N more fields" in the plan text
    try:
        return df._jdf.queryExecution().optimizedPlan().toString()
    finally:
        spark.conf.set(key, old)


def _lambda_bodies(plan: str) -> list[str]:
    """The text inside every ``lambdafunction(...)`` of a plan string."""
    bodies, start = [], 0
    while (i := plan.find("lambdafunction(", start)) >= 0:
        j = k = i + len("lambdafunction(")
        depth = 1
        while depth and k < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[k], 0)
            k += 1
        bodies.append(plan[j:k - 1])
        start = j
    return bodies


# an attribute reference that is not a lambda variable: ``text#12``
_OUTER_REF = re.compile(r"(?<!lambda )\b[A-Za-z_]\w*#\d+")


def _assert_lambdas_self_contained(plan: str, name: str) -> None:
    bodies = _lambda_bodies(plan)
    assert bodies, name
    bad = [b for b in bodies if _OUTER_REF.search(b)]
    assert not bad, (name, bad)


def _docs(spark, texts=EDGE_TEXTS):
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")


# ---------------------------------------------------------------------------
# plan shape
# ---------------------------------------------------------------------------


def test_script_profile_counts_each_class_once(spark):
    plan = _plan(txt.script_profile(_docs(spark)))
    assert plan.count("regexp_extract_all(") == len(txt.SCRIPT_CLASSES)
    for cls in txt.SCRIPT_CLASSES.values():
        assert plan.count(cls) == 1, cls


def test_language_id_filters_each_stopword_list_once(spark):
    plan = _plan(txt.language_id(_docs(spark)))
    assert plan.count("filter(") == len(txt.LANG_STOPWORDS)


def test_quality_keep_reads_projected_mean_word_len(spark):
    plan = _plan(txt.quality_score(_docs(spark)))
    assert plan.count("aggregate(") == 1


def test_text_lambdas_are_self_contained(spark):
    docs = _docs(spark)
    for name, df in [
        ("shingles", docs.select(dd.shingles("text").alias("s"))),
        ("bigram_lm", txt.train_bigram_lm(docs)[1]),
        ("text_profile", txt.text_profile(docs)),
    ]:
        _assert_lambdas_self_contained(_plan(df), name)


def test_d_text_profile_lambdas_are_self_contained(spark):
    """The catalog query's chain: WARC round trip, then both profiles."""
    docs = _docs(spark).withColumn("lang", F.lit("en"))
    df = txt.script_profile(txt.text_profile(wx.roundtrip_documents(docs)))
    _assert_lambdas_self_contained(_plan(df), "d_text_profile")


def test_internal_columns_are_reserved_and_dropped(spark):
    docs = _docs(spark)
    out = txt.script_profile(txt.text_profile(docs))
    assert not [c for c in out.columns if c.startswith("_tp_")]
    for col in ("_tp_words", "_tp_lang_en", "_tp_script_latin"):
        with pytest.raises(ValueError, match=col):
            txt.script_profile(txt.text_profile(docs.withColumn(col, F.lit(1))))


# ---------------------------------------------------------------------------
# parity with a plain-Python reference
# ---------------------------------------------------------------------------


def _half_up(x: float, scale: int) -> float:
    f = float(10 ** scale)
    return math.floor(x * f + 0.5) / f


def _argmax(counts: dict[str, int]) -> tuple[str, int]:
    best = max([0, *counts.values()])
    if best == 0:
        return "unk", 0
    return next(n for n in sorted(counts) if counts[n] == best), best


def _grams(words: list[str], k: int) -> list[str]:
    return [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)]


def _reference(text: str | None) -> dict:
    if text is None:
        return {"pred_lang": "unk", "lang_score": 0, "n_shingles": 0,
                "dup_2gram_frac": 0.0, "n_script_chars": None,
                "pred_script": "unk", "script_confidence": 0.0,
                "n_words": None, "mean_word_len": None, "quality_keep": None}
    w = text.split(" ")  # Spark's split(text, ' ') keeps empty words too
    n = len(w)
    pred_lang, lang_score = _argmax(
        {lang: sum(x in stops for x in w) for lang, stops in txt.LANG_STOPWORDS.items()})
    bigrams = _grams(w, 2)
    scripts = {name: len(re.findall(cls, text)) for name, cls in txt.SCRIPT_CLASSES.items()}
    total = sum(scripts.values())
    pred_script, best = _argmax(scripts)
    mean_wlen = _half_up(float(sum(map(len, w))) / max(n, 1), 2)
    return {
        "pred_lang": pred_lang,
        "lang_score": lang_score,
        "n_shingles": len(set(_grams(w, dd.SHINGLE_K))),
        "dup_2gram_frac": _half_up(
            float(len(bigrams) - len(set(bigrams))) / max(len(bigrams), 1), 3),
        "n_script_chars": total,
        "pred_script": pred_script,
        "script_confidence": _half_up(float(best) / total, 4) if total else 0.0,
        "n_words": n,
        "mean_word_len": mean_wlen,
        "quality_keep": n >= 10 and 2.0 <= mean_wlen <= 12.0,
    }


def test_profile_edge_cases_match_python_reference(spark):
    got = {
        r["doc_id"]: r.asDict()
        for r in txt.script_profile(txt.text_profile(_docs(spark))).collect()
    }
    for i, text in enumerate(EDGE_TEXTS):
        want = _reference(text)
        have = {k: got[i][k] for k in want}
        assert have == want, (text, have, want)


def test_word_grams_match_python_reference(spark):
    texts = [t for t in EDGE_TEXTS if t is not None]
    docs = _docs(spark, texts)
    w = dd.words("text")
    rows = docs.select(
        "doc_id", *[dd.word_grams(w, k).alias(f"g{k}") for k in (1, 2, 3, 4)],
    ).collect()
    for r in rows:
        ws = texts[r["doc_id"]].split(" ")
        for k in (1, 2, 3, 4):
            assert r[f"g{k}"] == _grams(ws, k), (ws, k)


def test_bigram_counts_match_python_reference(spark):
    texts = [t for t in EDGE_TEXTS if t is not None]
    _, bi, _ = txt.train_bigram_lm(_docs(spark, texts))
    want = Counter(
        pair for t in texts for pair in zip(t.split(" "), t.split(" ")[1:]))
    got = Counter({(r["w_prev"], r["w"]): r["c2"] for r in bi.collect()})
    assert got == want


# ---------------------------------------------------------------------------
# WARC round-trip width
# ---------------------------------------------------------------------------


def test_roundtrip_width_follows_cluster_not_file_count(spark):
    texts = [t for t in EDGE_TEXTS if t is not None] * 3
    docs = spark.createDataFrame(
        [(i, "en", t) for i, t in enumerate(texts)],
        "doc_id long, lang string, text string")
    rt = wx.roundtrip_documents(docs)
    width = spark.sparkContext.defaultParallelism
    assert rt._jdf.rdd().getNumPartitions() == width
    three = wx.roundtrip_documents(docs, n_files=3)
    assert three._jdf.rdd().getNumPartitions() == width
    assert sorted(rt.collect()) == sorted(three.collect())
    assert len(rt.collect()) == len(texts)
