"""Shared test helpers and fixtures: the spans golden fixture and the
law-driven page generator live here, not in the library, since only
tests use them."""

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hypertrace_ingester_spark.operators.trace_graph import span_boundary_types
from hypertrace_ingester_spark.operators.webextract import _FOOTER, _HEAD_JUNK


class FakeGroupState:
    """Minimal GroupState stand-in for driving applyInPandasWithState
    functions directly (exists/get/update/setTimeoutTimestamp)."""

    hasTimedOut = False

    def __init__(self, value=None):
        self._v = value

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def setTimeoutTimestamp(self, ts):
        self.timeout = ts


def own_job_group(monkeypatch, sc, module, name, suffix):
    """Patch ``module.<name>`` so that each call first moves the calling
    thread into a fresh job group, the caller's group id plus
    ``-<suffix>``: the jobs that call and everything after it on that
    thread start land there. Returns the list of those group ids, one per
    call."""
    fn = getattr(module, name)
    groups = []

    def in_own_group(*args, **kwargs):
        groups.append(f"{sc.getLocalProperty('spark.jobGroup.id')}-{suffix}")
        sc.setJobGroup(groups[-1], groups[-1])
        return fn(*args, **kwargs)

    monkeypatch.setattr(module, name, in_own_group)
    return groups


def spans_fixture(spark, n_traces: int = 4):
    """Deterministic golden fixture: multi-level trees with entry/exit
    boundaries, an orphan-exit root and a dangling parent
    (RawSpansGrouperTest.java / ApiTraceGraph test shapes)."""
    rows = []
    for t in range(n_traces):
        base_id = 1000 * (t + 1)
        tenant = t % 2
        base = 1_700_000_000_000 + t * 10_000

        def span(off, parent, kind, svc, has_ref=None):
            return {
                "tenant_id": tenant, "trace_id": t + 1,
                "span_id": base_id + off,
                "parent_span_id": None if parent is None else base_id + parent,
                "ts_ms": base + off * 10, "kind": kind, "service": svc,
                "api_name": f"api_{off}", "op_name": f"op_{off}",
                "start_ms": base + off * 10, "end_ms": base + off * 10 + 5,
                "duration_ms": 5, "error_count": 1 if off == 3 else 0,
                "exception_count": 1 if off == 2 else 0, "status_code": 200,
                "backend_name": f"be_{off}" if kind == "EXIT" and off % 2 == 0 else None,
                "backend_path": f"/bp{off}" if kind == "EXIT" and off % 4 == 0 else None,
                "is_entry_api": False, "is_exit_api": False,
                "has_parent_ref": parent is not None if has_ref is None else has_ref,
            }

        # entry(1) -> exit(2) -> entry(3, svc-b) -> exit(4, backend)
        #          -> internal(5) -> exit(6)
        # exit root(7): broken parent ref on even traces, real root on odd
        rows += [
            span(1, None, "ENTRY", "svc-a"),
            span(2, 1, "EXIT", "svc-a"),
            span(3, 2, "ENTRY", "svc-b"),
            span(4, 3, "EXIT", "svc-b"),
            span(5, 1, "UNSPECIFIED", "svc-a"),
            span(6, 5, "EXIT", "svc-a"),
            span(7, None, "EXIT", "svc-c", has_ref=(t % 2 == 0)),
        ]
    df = spark.createDataFrame(
        pd.DataFrame(rows),
        schema=(
            "tenant_id long, trace_id long, span_id long, parent_span_id long, "
            "ts_ms long, kind string, service string, api_name string, "
            "op_name string, start_ms long, end_ms long, duration_ms long, "
            "error_count long, exception_count long, status_code long, "
            "backend_name string, backend_path string, is_entry_api boolean, "
            "is_exit_api boolean, has_parent_ref boolean"
        ),
    )
    # boundary flags derived relationally so fixtures stay consistent
    flags = span_boundary_types(df).withColumnRenamed("span_id", "f_span_id")
    return (
        df.drop("is_entry_api", "is_exit_api")
        .join(
            flags.select(
                F.col("trace_id").alias("f_trace_id"), "f_span_id",
                F.col("is_api_entry").alias("is_entry_api"),
                F.col("is_api_exit").alias("is_exit_api"),
            ),
            (F.col("trace_id") == F.col("f_trace_id")) & (F.col("span_id") == F.col("f_span_id")),
        )
        .drop("f_trace_id", "f_span_id")
    )


# ---------------------------------------------------------------------------
# Deterministic page generator (closed-form laws over the row index) — the
# richer structural fixture for tests: multi-paragraph pages, varying nav
# sizes, an occasional link farm, so the keep rule is exercised beyond the
# single-block gate wrap. Laws are restatable in plain python/SQL.
# ---------------------------------------------------------------------------

PAGE_LANGS = ["en", "es", "fr"]


def page_laws(i: int) -> dict:
    """Expected structure of generated page ``i`` ."""
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
