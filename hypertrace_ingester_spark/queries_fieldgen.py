"""Field-generator catalog queries — HTTP / GRPC / SQL extraction and the
span-kind alias cascade under the full rows+schema+hash gate.

Pattern: each query builds a deterministic ``map<string,string>`` tags
column from the events table (modular arithmetic on the ``k`` prop decides
WHICH alias key carries the value, plus lower-priority decoy keys), runs
the JVM-side extractor from operators/fieldgen.py over the map, and the
DuckDB oracle independently restates the expected SEMANTICS (priority
order, URL validation, fallback chains) as CASE arithmetic — it never sees
the map, so a priority/validation bug in the extractor breaks the hash.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import fieldgen as fg
from .queries import register

_E_SQL = (
    "SELECT event_id, "
    "COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS m "
    "FROM events"
)


def _events_m(spark, sf_dir):
    from .sources import load_table, widen

    return widen(load_table(spark, sf_dir, "events")).select(
        "event_id",
        F.coalesce(F.get_json_object("props", "$.k").cast("long"), F.lit(0)).alias("m"),
    )


def _tags(entries: dict) -> F.Column:
    pairs = []
    for k, v in entries.items():
        pairs += [F.lit(k), v]
    return F.map_filter(F.create_map(*pairs), lambda k, v: v.isNotNull())


def _kv_string(map_col) -> F.Column:
    """map → sorted 'k=v,k2=v2' string (oracle-comparable)."""
    return F.concat_ws(
        ",",
        F.array_sort(
            F.transform(
                F.map_entries(map_col), lambda e: F.concat(e["key"], F.lit("="), e["value"])
            )
        ),
    )


def _s(c) -> F.Column:
    return c.cast("string")


# ---------------------------------------------------------------------------
# P10 — HTTP fields
# ---------------------------------------------------------------------------

@register(
    "p_http_fields",
    f"""
    WITH e AS ({_E_SQL}),
    b AS (
      SELECT event_id, m,
             CASE WHEN m % 10 < 7 THEN 200 WHEN m % 10 < 9 THEN 404 ELSE 500 END AS status
      FROM e
    )
    SELECT event_id,
      CASE WHEN m % 3 IN (0, 1)
           THEN CASE WHEN m % 2 = 0 THEN 'GET' ELSE 'POST' END END AS http_method,
      CASE WHEN m % 5 = 0 THEN 'http://host' || CAST(m % 20 AS VARCHAR)
                || '.example.com/a/b' || CAST(m % 9 AS VARCHAR)
                || '?q=' || CAST(m % 9 AS VARCHAR)
           WHEN m % 5 = 1 THEN 'https://sec' || CAST(m % 10 AS VARCHAR)
                || '.example.com:8443/x/'
           WHEN m % 5 = 4 AND m % 2 = 0 THEN 'https://oteh' || CAST(m % 6 AS VARCHAR)
                || '.example.com/t' || CAST(m % 4 AS VARCHAR) || '?z=9'
           WHEN m % 5 = 4 THEN
             -- net.peer/net.host URL reconstruction (client/server spans)
             CASE WHEN m % 3 = 0 THEN 'https://cn' || CAST(m % 6 AS VARCHAR)
                       || (CASE WHEN m % 7 <> 0 THEN ':81' || CAST(m % 4 AS VARCHAR) ELSE '' END)
                       || '/nt' || CAST(m % 4 AS VARCHAR) || '?w=5'
                  WHEN m % 3 = 1 THEN 'https://sv' || CAST(m % 6 AS VARCHAR)
                       || (CASE WHEN m % 11 <> 0 THEN ':90' || CAST(m % 4 AS VARCHAR) ELSE '' END)
                       || '/nt' || CAST(m % 4 AS VARCHAR) || '?w=5'
                  WHEN m % 17 <> 0 THEN 'https://'
                       || (CASE WHEN m % 13 = 0 THEN 'sa' || CAST(m % 6 AS VARCHAR)
                                ELSE '10.0.0.' || CAST(m % 6 AS VARCHAR) END)
                       || (CASE WHEN m % 9 <> 0 THEN ':82' || CAST(m % 4 AS VARCHAR) ELSE '' END)
                       || '/nt' || CAST(m % 4 AS VARCHAR) || '?w=5'
             END
      END AS http_url,
      CASE WHEN m % 5 = 0 THEN 'http'
           WHEN m % 5 = 1 THEN 'https'
           WHEN m % 5 = 4 THEN 'https' END AS http_scheme,
      CASE WHEN m % 5 = 0 THEN 'host' || CAST(m % 20 AS VARCHAR) || '.example.com'
           WHEN m % 5 = 1 THEN 'sec' || CAST(m % 10 AS VARCHAR) || '.example.com:8443'
           WHEN m % 5 = 4 AND m % 2 = 0
                THEN 'oteh' || CAST(m % 6 AS VARCHAR) || '.example.com'
           WHEN m % 5 = 4 THEN
             CASE WHEN m % 3 = 0 THEN 'cn' || CAST(m % 6 AS VARCHAR)
                       || (CASE WHEN m % 7 <> 0 THEN ':81' || CAST(m % 4 AS VARCHAR) ELSE '' END)
                  WHEN m % 3 = 1 THEN 'sv' || CAST(m % 6 AS VARCHAR)
                       || (CASE WHEN m % 11 <> 0 THEN ':90' || CAST(m % 4 AS VARCHAR) ELSE '' END)
                  WHEN m % 17 <> 0 THEN
                       (CASE WHEN m % 13 = 0 THEN 'sa' || CAST(m % 6 AS VARCHAR)
                             ELSE '10.0.0.' || CAST(m % 6 AS VARCHAR) END)
                       || (CASE WHEN m % 9 <> 0 THEN ':82' || CAST(m % 4 AS VARCHAR) ELSE '' END)
             END
      END AS http_host,
      CASE WHEN m % 4 = 0 THEN '/pp' || CAST(m % 8 AS VARCHAR)
           WHEN m % 5 = 0 THEN '/a/b' || CAST(m % 9 AS VARCHAR)
           WHEN m % 5 = 1 THEN '/x'
           WHEN m % 5 = 2 THEN '/relative/p' || CAST(m % 7 AS VARCHAR)
           WHEN m % 5 = 4 AND m % 2 = 0 THEN '/t' || CAST(m % 4 AS VARCHAR)
           WHEN m % 5 = 4 AND NOT (m % 3 = 2 AND m % 17 = 0)
                THEN '/nt' || CAST(m % 4 AS VARCHAR)
      END AS http_path,
      CASE WHEN m % 7 = 0 THEN 'qs=' || CAST(m % 11 AS VARCHAR)
           WHEN m % 5 = 0 THEN 'q=' || CAST(m % 9 AS VARCHAR)
           WHEN m % 5 = 2 THEN 'r=1'
           WHEN m % 5 = 4 AND m % 2 = 0 THEN 'z=9'
           WHEN m % 5 = 4 AND NOT (m % 3 = 2 AND m % 17 = 0) THEN 'w=5'
      END AS http_query,
      CASE WHEN m % 6 < 5 THEN 'UA-' || CAST(m % 10 AS VARCHAR) END AS http_user_agent,
      CASE WHEN m % 5 < 4 THEN m % 900 + 10
           WHEN m % 3 <> 0 THEN m % 40 + 1 END AS http_request_size,
      CASE WHEN m % 2 = 0 THEN m % 500 + 5 END AS http_response_size,
      CASE WHEN m % 3 IN (0, 1) THEN status END AS http_status_code,
      'msg_' || CAST(status AS VARCHAR) AS http_status_message,
      CASE WHEN m % 2 = 0
           THEN 'x-a=h' || CAST(m % 3 AS VARCHAR) || ',x-b=h2'
           ELSE 'x-a=h' || CAST(m % 3 AS VARCHAR) END AS req_headers_kv,
      CASE WHEN m % 3 = 0 THEN 'p1=v' || CAST(m % 4 AS VARCHAR) ELSE '' END AS req_params_kv,
      CASE WHEN m % 4 = 0 THEN 'c1=cv0,c2=cw' ELSE '' END AS req_cookies_kv
    FROM b
    """,
    doc="P10 full HTTP field extraction (HttpFieldsGenerator.java:84-636): "
        "alias priority with decoy keys, URL validity (relative url tag "
        "sets path/query but not url/scheme/host), OTel scheme+host+target "
        "composition, trailing-slash path normalization, 4-alias size "
        "chain with body-length fallback gated on the truncated flag, "
        "header/param/cookie prefix explosion with declared keys excluded; "
        "round 3 adds getHttpUrlForOTelFormat's full client/server ladder "
        "(HttpSemanticConventionUtils.java:287-318): CLIENT spans rebuild "
        "the URL from net.peer.name > net.sock.peer.addr > net.peer.ip "
        "(+optional net.peer.port), SERVER spans from http.server_name > "
        "net.host.name (+net.host.port), with the otel span_kind key "
        "vetoing the OC span.kind when both are present.",
)
def p_http_fields(spark, sf_dir):
    e = _events_m(spark, sf_dir)
    m = F.col("m")
    status = (
        F.when(m % 10 < 7, 200).when(m % 10 < 9, 404).otherwise(500).cast("long")
    )
    val_method = F.when(m % 2 == 0, "GET").otherwise("POST")
    ua = F.concat(F.lit("UA-"), _s(m % 10))
    size_v = _s(m % 900 + 10)
    df = e.withColumn("status", status).withColumn(
        "tags",
        _tags(
            {
                "http.request.method": F.when(m % 3 == 0, val_method),
                "http.method": F.when(m % 3 == 0, F.lit("WRONG")).when(m % 3 == 1, val_method),
                "http.url": F.when(
                    m % 5 == 0,
                    F.concat(
                        F.lit("http://host"), _s(m % 20), F.lit(".example.com/a/b"),
                        _s(m % 9), F.lit("?q="), _s(m % 9),
                    ),
                ).when(m % 5 == 3, F.lit("   ")),
                "http.request.url": F.when(
                    m % 5 == 1,
                    F.concat(F.lit("https://sec"), _s(m % 10), F.lit(".example.com:8443/x/")),
                ),
                "url": F.when(m % 5 == 0, F.lit("http://decoy")).when(
                    m % 5 == 2, F.concat(F.lit("/relative/p"), _s(m % 7), F.lit("?r=1"))
                ),
                "http.scheme": F.when(m % 5 == 4, F.lit("https")),
                "http.host": F.when(
                    (m % 5 == 4) & (m % 2 == 0),
                    F.concat(F.lit("oteh"), _s(m % 6), F.lit(".example.com")),
                ),
                "http.target": F.when(
                    (m % 5 == 4) & (m % 2 == 0),
                    F.concat(F.lit("/t"), _s(m % 4), F.lit("?z=9")),
                ).when(
                    m % 5 == 4,
                    F.concat(F.lit("/nt"), _s(m % 4), F.lit("?w=5")),
                ),
                # client/server net.peer URL reconstruction inputs
                # (odd m%5==4 rows; decoys prove every priority edge)
                "span_kind": F.when(
                    (m % 5 == 4) & (m % 2 == 1) & (m % 3 == 0), F.lit("CLIENT")
                ).when(
                    (m % 5 == 4) & (m % 2 == 1) & (m % 3 == 2) & (m % 17 == 0),
                    F.lit("INTERNAL"),  # otel key present -> vetoes OC client
                ),
                "span.kind": F.when(
                    (m % 5 == 4) & (m % 2 == 1) & (m % 3 == 1), F.lit("server")
                ).when((m % 5 == 4) & (m % 2 == 1) & (m % 3 == 2), F.lit("client")),
                "net.peer.name": F.when(
                    (m % 5 == 4) & (m % 2 == 1) & (m % 3 == 0),
                    F.concat(F.lit("cn"), _s(m % 6)),
                ),
                "net.peer.ip": F.when(
                    (m % 5 == 4) & (m % 2 == 1) & (m % 3 == 0), F.lit("9.9.9.9")
                ).when(
                    (m % 5 == 4) & (m % 2 == 1) & (m % 3 == 2),
                    F.concat(F.lit("10.0.0."), _s(m % 6)),
                ),
                "net.sock.peer.addr": F.when(
                    (m % 5 == 4) & (m % 2 == 1) & (m % 3 == 2) & (m % 13 == 0),
                    F.concat(F.lit("sa"), _s(m % 6)),
                ),
                "net.peer.port": F.when(
                    (m % 5 == 4) & (m % 2 == 1) & (m % 3 == 0) & (m % 7 != 0),
                    F.concat(F.lit("81"), _s(m % 4)),
                ).when(
                    (m % 5 == 4) & (m % 2 == 1) & (m % 3 == 2) & (m % 9 != 0),
                    F.concat(F.lit("82"), _s(m % 4)),
                ),
                "http.server_name": F.when(
                    (m % 5 == 4) & (m % 2 == 1) & (m % 3 == 1),
                    F.concat(F.lit("sv"), _s(m % 6)),
                ),
                "net.host.name": F.when(  # decoy: server_name outranks it
                    (m % 5 == 4) & (m % 2 == 1) & (m % 3 == 1),
                    F.concat(F.lit("nh"), _s(m % 6)),
                ),
                "net.host.port": F.when(
                    (m % 5 == 4) & (m % 2 == 1) & (m % 3 == 1) & (m % 11 != 0),
                    F.concat(F.lit("90"), _s(m % 4)),
                ),
                "http.request.path": F.when(
                    m % 4 == 0, F.concat(F.lit("/pp"), _s(m % 8), F.lit("/"))
                ),
                "http.path": F.when(m % 4 == 1, F.lit("noslash")),
                "user.agent": F.when(m % 6 == 0, ua),
                "user_agent": F.when(m % 6 == 1, ua),
                "user-agent": F.when(m % 6 == 2, ua),
                "http.request.header.user-agent": F.when(m % 6 == 3, ua),
                "http.user_agent": F.when(m % 6 == 4, ua).when(m % 6 == 0, F.lit("UA-WRONG")),
                "request_size": F.when(m % 5 == 0, size_v),
                "http.request.size": F.when(m % 5 == 1, size_v),
                "http.request_content_length": F.when(m % 5 == 2, size_v),
                "http.request.header.content-length": F.when(m % 5 == 3, size_v).when(
                    m % 5 == 0, F.lit("9999")
                ),
                "http.request.body": F.when(
                    m % 5 == 4, F.repeat(F.lit("x"), (m % 40 + 1).cast("int"))
                ),
                "http.request.body.truncated": F.when(
                    (m % 5 == 4) & (m % 3 == 0), F.lit("true")
                ),
                "http.response.size": F.when(m % 2 == 0, _s(m % 500 + 5)),
                "http.status_code": F.when(m % 3 == 0, _s(F.col("status"))),
                "http.response.status_code": F.when(m % 3 == 0, F.lit("999")).when(
                    m % 3 == 1, _s(F.col("status"))
                ),
                "http.response.status_message": F.concat(F.lit("msg_"), _s(F.col("status"))),
                "http.request.query_string": F.when(
                    m % 7 == 0, F.concat(F.lit("qs="), _s(m % 11))
                ),
                "http.request.header.x-a": F.concat(F.lit("h"), _s(m % 3)),
                "http.request.header.x-b": F.when(m % 2 == 0, F.lit("h2")),
                "http.request.param.p1": F.when(m % 3 == 0, F.concat(F.lit("v"), _s(m % 4))),
                "http.request.cookie.c1": F.when(m % 4 == 0, F.concat(F.lit("cv"), _s(m % 2))),
                "http.request.cookie.c2": F.when(m % 4 == 0, F.lit("cw")),
            }
        ),
    )
    out = fg.http_fields(df, "tags")
    return out.select(
        "event_id",
        "http_method", "http_url", "http_scheme", "http_host", "http_path",
        "http_query", "http_user_agent", "http_request_size",
        "http_response_size", "http_status_code", "http_status_message",
        _kv_string(F.col("http_request_headers")).alias("req_headers_kv"),
        _kv_string(F.col("http_request_params")).alias("req_params_kv"),
        F.concat_ws(",", F.col("http_request_cookies")).alias("req_cookies_kv"),
    )


# ---------------------------------------------------------------------------
# P11 — GRPC/RPC fields
# ---------------------------------------------------------------------------

@register(
    "p_grpc_fields",
    f"""
    WITH e AS ({_E_SQL})
    SELECT event_id,
      m % 17 AS grpc_status_code,
      CASE WHEN m % 2 = 0 THEN 'sm' || CAST(m % 6 AS VARCHAR)
           ELSE 'gm' || CAST(m % 6 AS VARCHAR) END AS grpc_status_message,
      CASE WHEN m % 3 = 0 THEN '/pkg.Svc/M' || CAST(m % 4 AS VARCHAR)
           WHEN m % 3 = 1 THEN 'M' || CAST(m % 4 AS VARCHAR) END AS grpc_method,
      CASE WHEN m % 4 = 0 THEN m % 300
           WHEN m % 4 = 1 THEN m % 200
           WHEN m % 4 = 2 AND m % 5 <> 0 THEN m % 30 + 1
           WHEN m % 4 = 2 AND m % 6 = 0 THEN m % 20 + 1 END AS grpc_request_size,
      CASE WHEN m % 3 = 0
           THEN 'k1=v' || CAST(m % 5 AS VARCHAR) || ',k2=w0' ELSE '' END AS md_kv,
      CASE WHEN m % 7 = 0 THEN 'E' || CAST(m % 4 AS VARCHAR) END AS grpc_error_name,
      -- E15 endpoint/url: grpc.path itself triggers the grpc.* prefix
      -- scan, so m%5=3 rows are GRPC even without rpc.system
      CASE WHEN m % 2 = 0 OR m % 5 = 3 THEN
        (CASE m % 3 WHEN 0 THEN 'Recv.' WHEN 1 THEN 'Sent.' ELSE '' END) ||
        (CASE m % 5
           WHEN 0 THEN 'Svc.M' || CAST(m % 4 AS VARCHAR)
           WHEN 1 THEN 'pkg.Svc.M' || CAST(m % 4 AS VARCHAR)
           WHEN 2 THEN 'Svc' || CAST(m % 3 AS VARCHAR) || '.M' || CAST(m % 4 AS VARCHAR)
           WHEN 3 THEN 'pkg.P.Q' || CAST(m % 4 AS VARCHAR)
           ELSE 'op_plain' END)
      END AS grpc_request_url
    FROM e
    """,
    doc="P11+E15 GRPC/RPC extraction (GrpcFieldsGenerator.java:46-341, "
        "RpcSemanticConventionUtils.java:88-95): 5-alias status-code "
        "priority with decoy, census/envoy status message, grpc/rpc method "
        "aliases, the envoy→content-length→body-length size chain gated on "
        "truncation flags, Metadata(k=v,...) parsing dropping malformed "
        "entries; plus GrpcAttributeEnricher's request endpoint "
        "(GrpcAttributeEnricher.java:21-48, RpcSemanticConventionUtils."
        "getGrpcRequestEndpoint:509-539): priority Sent./Recv.-stripped "
        "name > rpc metadata :path sanitized > rpc.service.method > "
        "grpc.path sanitized > name, Recv./Sent. prefix by span kind, "
        "GRPC-protocol spans only (separate tag frame so both alias tables "
        "are exercised on every row).",
)
def p_grpc_fields(spark, sf_dir):
    e = _events_m(spark, sf_dir)
    m = F.col("m")
    sc = _s(m % 17)
    # E15 inputs: span kind / op name and the endpoint-priority tag table
    kind = F.when(m % 3 == 0, "ENTRY").when(m % 3 == 1, "EXIT").otherwise("UNSPECIFIED")
    op_name = F.when(
        m % 5 == 0, F.concat(F.lit("Sent.Svc.M"), _s(m % 4))
    ).otherwise(F.lit("op_plain"))
    url_tags = _tags(
        {
            "rpc.system": F.when(m % 2 == 0, F.lit("grpc")),
            "rpc.request.metadata.:path": F.when(
                (m % 5 == 1) | (m % 5 == 0),
                F.concat(F.lit("/pkg.Svc/M"), _s(m % 4)),
            ),
            "rpc.service": F.when(m % 5 == 2, F.concat(F.lit("Svc"), _s(m % 3))),
            "rpc.method": F.when(m % 5 == 2, F.concat(F.lit("M"), _s(m % 4))),
            "grpc.path": F.when(m % 5 == 3, F.concat(F.lit("/pkg.P/Q"), _s(m % 4))),
        }
    )
    df = e.withColumn("kind", kind).withColumn("op_name", op_name).withColumn(
        "url_tags", url_tags
    ).withColumn(
        "tags",
        _tags(
            {
                "rpc.grpc.status_code": F.when(m % 5 == 0, sc),
                "status.code": F.when(m % 5 == 1, sc),
                "grpc.status_code": F.when(m % 5 == 2, sc),
                "rpc.status_code": F.when(m % 5 == 3, sc),
                "census.status_code": F.when(m % 5 == 0, F.lit("99")).when(m % 5 == 4, sc),
                "status.message": F.when(m % 2 == 0, F.concat(F.lit("sm"), _s(m % 6))),
                "grpc.message": F.when(m % 2 == 1, F.concat(F.lit("gm"), _s(m % 6))),
                "grpc.method": F.when(m % 3 == 0, F.concat(F.lit("/pkg.Svc/M"), _s(m % 4))),
                "rpc.method": F.when(m % 3 == 1, F.concat(F.lit("M"), _s(m % 4))),
                "request_size": F.when(m % 4 == 0, _s(m % 300)),
                "rpc.request.metadata.content-length": F.when(m % 4 == 1, _s(m % 200)),
                "grpc.request.body": F.when(
                    m % 4 == 2, F.repeat(F.lit("b"), (m % 30 + 1).cast("int"))
                ),
                "grpc.request.body.truncated": F.when(
                    (m % 4 == 2) & (m % 5 == 0), F.lit("true")
                ),
                "rpc.request.body": F.when(
                    (m % 4 == 2) & (m % 6 == 0),
                    F.repeat(F.lit("c"), (m % 20 + 1).cast("int")),
                ),
                "grpc.request.metadata": F.when(
                    m % 3 == 0,
                    F.concat(F.lit("Metadata(k1=v"), _s(m % 5), F.lit(",k2=w0,bad)")),
                ),
                "grpc.error_name": F.when(m % 7 == 0, F.concat(F.lit("E"), _s(m % 4))),
            }
        ),
    )
    out = fg.grpc_fields(df, "tags")
    return out.select(
        "event_id", "grpc_status_code", "grpc_status_message", "grpc_method",
        "grpc_request_size",
        _kv_string(F.col("grpc_request_metadata")).alias("md_kv"),
        "grpc_error_name",
        fg.grpc_request_url(F.col("url_tags"), F.col("op_name"), F.col("kind")).alias(
            "grpc_request_url"
        ),
    )


# ---------------------------------------------------------------------------
# P12 — SQL fields
# ---------------------------------------------------------------------------

@register(
    "p_sql_fields",
    f"""
    WITH e AS ({_E_SQL})
    SELECT event_id,
      CASE WHEN m % 3 = 0 THEN 'SELECT ' || CAST(m % 10 AS VARCHAR)
           WHEN m % 3 = 1 THEN 'INSERT ' || CAST(m % 10 AS VARCHAR) END AS sql_query,
      CASE WHEN m % 2 = 0 THEN 'mysql' ELSE 'postgresql' END AS sql_db_type,
      CASE WHEN m % 4 = 0 OR (m % 4 = 1 AND m % 5 = 0)
           THEN 'jdbc:mysql://db' || CAST(m % 3 AS VARCHAR) || ':3306/shop'
      END AS sql_url,
      CASE WHEN m % 5 = 0 THEN '[' || CAST(m % 7 AS VARCHAR) || ']' END AS sql_params,
      CASE WHEN m % 6 = 0 THEN '4200' || CAST(m % 2 AS VARCHAR) END AS sql_sqlstate,
      -- db-semantic destination URI (getSqlURI): only db.system-SQL rows
      -- (m odd) qualify; sql.url > valid connection string > jdbc://net.peer
      CASE WHEN m % 2 = 1 THEN
        CASE WHEN m % 4 = 1 AND m % 5 = 0
                  THEN 'jdbc:mysql://db' || CAST(m % 3 AS VARCHAR) || ':3306/shop'
             WHEN m % 4 = 1
                  THEN 'postgresql://pg' || CAST(m % 3 AS VARCHAR) || ':5432/shop'
             WHEN m % 4 = 3 AND m % 3 = 0
                  THEN 'jdbc://dbh' || CAST(m % 6 AS VARCHAR)
                       || (CASE WHEN m % 7 <> 0 THEN ':54' || CAST(m % 6 AS VARCHAR) ELSE '' END)
             WHEN m % 4 = 3
                  THEN 'jdbc://10.1.1.' || CAST(m % 6 AS VARCHAR)
                       || (CASE WHEN m % 7 <> 0 THEN ':54' || CAST(m % 6 AS VARCHAR) ELSE '' END)
        END
      END AS sql_uri,
      -- P13 dispatcher columns (separate tag frame with its own arithmetic)
      CASE WHEN m % 2 = 0 THEN 'GET' END AS disp_http_method,
      m % 17 AS disp_grpc_status_code,
      CASE WHEN m % 3 = 0 THEN 'SELECT 1' END AS disp_sql_query,
      CASE WHEN m % 4 = 0
           THEN 'another=x,custom.key=c' || CAST(m % 5 AS VARCHAR)
           ELSE 'custom.key=c' || CAST(m % 5 AS VARCHAR) END AS residual_kv
    FROM e
    """,
    doc="P12+P13 SQL extraction (SqlFieldsGenerator.java:23-74): sql.query/"
        "db.statement priority with decoy, sql.db_type/db.system, url, "
        "params, sqlstate; round 3 adds the db-semantic destination URI "
        "(DbSemanticConventionUtils.getSqlURI:212-231): db.system-gated "
        "sql.url > valid db.connection_string (invalid ones skipped) > "
        "jdbc://-prefixed net.peer host:port reconstruction; plus the P13 dispatcher (FieldsGenerator.java:"
        "69-105) over a second tag frame: one pass routes every tag to its "
        "protocol generator, keys claimed by no exact generator key or "
        "prefix family land in the residual attribute bag (claimed prefix "
        "keys like http.request.header.* do NOT).",
)
def p_sql_fields(spark, sf_dir):
    e = _events_m(spark, sf_dir)
    m = F.col("m")
    disp_tags = _tags(
        {
            "http.method": F.when(m % 2 == 0, F.lit("GET")),
            "grpc.status_code": _s(m % 17),
            "sql.query": F.when(m % 3 == 0, F.lit("SELECT 1")),
            "custom.key": F.concat(F.lit("c"), _s(m % 5)),
            "another": F.when(m % 4 == 0, F.lit("x")),
            "http.request.header.h1": F.lit("v"),  # claimed prefix
        }
    )
    disp = fg.extract_all_fields(e.withColumn("tags_d", disp_tags), "tags_d").select(
        "event_id",
        "m",
        F.col("http_method").alias("disp_http_method"),
        F.col("grpc_status_code").alias("disp_grpc_status_code"),
        F.col("sql_query").alias("disp_sql_query"),
        _kv_string(F.col("attributes")).alias("residual_kv"),
    )
    df = disp.withColumn(
        "tags",
        _tags(
            {
                "sql.query": F.when(m % 3 == 0, F.concat(F.lit("SELECT "), _s(m % 10))),
                "db.statement": F.when(m % 3 == 0, F.lit("WRONG")).when(
                    m % 3 == 1, F.concat(F.lit("INSERT "), _s(m % 10))
                ),
                "sql.db_type": F.when(m % 2 == 0, F.lit("mysql")),
                "db.system": F.when(m % 2 == 1, F.lit("postgresql")),
                "sql.url": F.when(
                    (m % 4 == 0) | ((m % 4 == 1) & (m % 5 == 0)),
                    F.concat(F.lit("jdbc:mysql://db"), _s(m % 3), F.lit(":3306/shop")),
                ),
                "sql.params": F.when(m % 5 == 0, F.concat(F.lit("["), _s(m % 7), F.lit("]"))),
                "sql.sqlstate": F.when(m % 6 == 0, F.concat(F.lit("4200"), _s(m % 2))),
                # db-semantic URI inputs: valid + invalid connection strings
                # and net.peer parts for the jdbc:// reconstruction
                "db.connection_string": F.when(
                    m % 4 == 1,
                    F.concat(F.lit("postgresql://pg"), _s(m % 3), F.lit(":5432/shop")),
                ).when((m % 4 == 3) & (m % 3 == 0), F.lit("bad uri")),
                "net.peer.name": F.when(
                    (m % 4 == 3) & (m % 3 == 0), F.concat(F.lit("dbh"), _s(m % 6))
                ),
                "net.peer.ip": F.when(
                    (m % 4 == 3) & (m % 3 != 0), F.concat(F.lit("10.1.1."), _s(m % 6))
                ),
                "net.peer.port": F.when(
                    (m % 4 == 3) & (m % 7 != 0), F.concat(F.lit("54"), _s(m % 6))
                ),
            }
        ),
    )
    out = fg.sql_fields(df, "tags")
    return out.select(
        "event_id", "sql_query", "sql_db_type", "sql_url", "sql_params", "sql_sqlstate",
        "sql_uri",
        "disp_http_method", "disp_grpc_status_code", "disp_sql_query", "residual_kv",
    )


# ---------------------------------------------------------------------------
# E1 — span-kind alias cascade + protocol detection
# ---------------------------------------------------------------------------

@register(
    "e_span_type",
    f"""
    WITH e AS ({_E_SQL})
    SELECT event_id,
      CASE WHEN m % 6 IN (0, 1) THEN
             CASE m % 5 WHEN 0 THEN 'ENTRY' WHEN 1 THEN 'EXIT' WHEN 2 THEN 'EXIT'
                        WHEN 3 THEN 'ENTRY' ELSE 'UNSPECIFIED' END
           WHEN m % 6 = 2 THEN
             CASE m % 3 WHEN 0 THEN 'EXIT' WHEN 1 THEN 'ENTRY' ELSE 'UNSPECIFIED' END
           WHEN m % 6 = 3 THEN
             CASE m % 3 WHEN 0 THEN 'ENTRY' WHEN 1 THEN 'EXIT' ELSE 'UNSPECIFIED' END
           WHEN m % 6 = 4 THEN
             CASE WHEN m % 4 = 0 THEN 'EXIT' ELSE 'ENTRY' END
           ELSE 'UNSPECIFIED' END AS span_kind,
      CASE WHEN m % 4 IN (0, 1, 2) THEN 'GRPC'
           WHEN m % 8 = 3 THEN 'HTTPS'
           ELSE 'HTTP' END AS protocol
    FROM e
    """,
    doc="E1 span-kind alias cascade + protocol detection "
        "(SpanTypeAttributeEnricher.java:88-276): otel span_kind → OC "
        "span.kind → Client flag → envoy operationname → Sent./Recv. name "
        "prefix, each containsKey branch short-circuiting; protocol via "
        "rpc.system / OT component / grpc.*-prefix scan, then http scheme, "
        "then the http.*-prefix scan vetoed by grpc keys.",
)
def e_span_type(spark, sf_dir):
    e = _events_m(spark, sf_dir)
    m = F.col("m")
    otel_val = (
        F.when(m % 5 == 0, "SERVER").when(m % 5 == 1, "CLIENT")
        .when(m % 5 == 2, "PRODUCER").when(m % 5 == 3, "CONSUMER")
        .otherwise("internal")
    )
    oc_val = F.lower(otel_val)
    client_val = F.when(m % 3 == 0, "true").when(m % 3 == 1, "false").otherwise("maybe")
    envoy_val = F.when(m % 3 == 0, "ingress").when(m % 3 == 1, "egress").otherwise("other")
    op_name = (
        F.when((m % 6 == 4) & (m % 4 == 0), "Sent.Svc.M")
        .when(m % 6 == 4, "Recv.Svc.M")
        .otherwise("plain")
    )
    df = e.withColumn("op_name", op_name).withColumn(
        "tags",
        _tags(
            {
                "span_kind": F.when(m % 6 == 0, otel_val),
                "span.kind": F.when(m % 6 == 1, oc_val),
                "Client": F.when(m % 6 == 2, client_val),
                "operationname": F.when(m % 6 == 3, envoy_val),
                "rpc.system": F.when(m % 4 == 0, F.lit("grpc")),
                "component": F.when(m % 4 == 1, F.lit("gRPC")),
                "grpc.authority": F.when(m % 4 == 2, F.lit("svc:50051")),
                "http.scheme": F.when(m % 8 == 3, F.lit("https")),
                "http.method": F.when(m % 8 == 7, F.lit("GET")),
            }
        ),
    )
    return df.select(
        "event_id",
        fg.span_kind_from_tags(F.col("tags"), F.col("op_name")).alias("span_kind"),
        fg.protocol_from_tags(F.col("tags")).alias("protocol"),
    )


# ---------------------------------------------------------------------------
# P3/P4 — tag-key lowercasing (last-wins) + allowlist filter
# ---------------------------------------------------------------------------

@register(
    "p_tag_normalize",
    f"""
    WITH e AS ({_E_SQL}),
    ranked AS (
      SELECT e.event_id, e.m, e.m % 5 AS tenant_id,
             row_number() OVER (PARTITION BY e.m % 5, ev.event_type
                                ORDER BY epoch_ms(ev.ts), e.event_id) AS rn
      FROM e JOIN events ev ON ev.event_id = e.event_id
    )
    SELECT event_id, tenant_id,
      CASE WHEN m % 2 = 0
           THEN 'env=w' || CAST(m % 5 AS VARCHAR)
                || ',http.method=GET,x-b3-traceid=t' || CAST(m % 7 AS VARCHAR)
           ELSE 'env=v' || CAST(m % 3 AS VARCHAR)
                || ',http.method=GET,x-b3-traceid=t' || CAST(m % 7 AS VARCHAR)
      END AS tags_kv
    FROM ranked WHERE rn <= 50
    """,
    doc="P3+P4+P7 — the span-normalizer's filter chain in its real order: "
        "lowercase tag keys with last-wins dedup (HashMap.put semantics, "
        "JaegerSpanPreProcessor.java:100-106; "
        "spark.sql.mapKeyDedupPolicy=LAST_WIN), the allowlist filter (keep "
        "iff no allowed prefix matches OR key explicitly allowlisted, "
        "TagsFilter.java:65-100), then per-(tenant, type) rate limiting "
        "(token bucket collapses to 'first N rows per key' on bounded "
        "input, RateLimitingSpanFilter.java:1-60; one shuffle on the key). "
        "'Env' and 'env' collide after lowering (later entry wins); "
        "'internal.secret' is prefix-dropped; 'x-b3-traceid' matches a "
        "dropped prefix but is allowlisted.",
)
def p_tag_normalize(spark, sf_dir):
    from .operators import parse as parse_ops
    from .sources import load_table

    e = _events_m(spark, sf_dir)
    m = F.col("m")
    df = e.withColumn(
        "attributes",
        _tags(
            {
                "Env": F.concat(F.lit("v"), _s(m % 3)),
                "env": F.when(m % 2 == 0, F.concat(F.lit("w"), _s(m % 5))),
                "HTTP.Method": F.lit("GET"),
                "internal.secret": F.lit("s"),
                "x-b3-traceid": F.concat(F.lit("t"), _s(m % 7)),
            }
        ),
    )
    df = parse_ops.normalize_tags(df)
    df = parse_ops.filter_tags(
        df, allowed_prefixes=["internal.", "x-b3-"], allowlist=["x-b3-traceid"]
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    keyed = df.withColumn("tenant_id", m % 5).join(ev, on="event_id")
    out = parse_ops.rate_limit_per_key(
        keyed, key_cols=["tenant_id", "event_type"], order_cols=["ts_ms", "event_id"], limit=50
    )
    return out.select(
        "event_id", "tenant_id", _kv_string(F.col("attributes")).alias("tags_kv")
    )


# ---------------------------------------------------------------------------
# E10 — user-agent parsing
# ---------------------------------------------------------------------------

@register(
    "p_user_agent",
    f"""
    WITH e AS ({_E_SQL})
    SELECT event_id,
      CASE WHEN m % 8 = 0 THEN (CASE WHEN m % 3 = 0 THEN 'Chrome Mobile' ELSE 'Chrome' END)
           WHEN m % 8 = 1 THEN (CASE WHEN m % 3 = 1 THEN 'Mobile Safari' ELSE 'Safari' END)
           WHEN m % 8 = 2 THEN 'Firefox'
           WHEN m % 8 = 3 THEN 'Edge'
           WHEN m % 8 = 4 THEN 'curl'
           WHEN m % 8 = 5 THEN (CASE WHEN m % 3 = 0 THEN 'bingbot' ELSE 'Googlebot' END)
           WHEN m % 8 = 6 THEN 'python-requests'
           WHEN m % 3 = 2 THEN 'Spider' END AS ua_family,
      CASE WHEN m % 8 IN (0, 1, 2, 3) THEN 'browser'
           WHEN m % 8 IN (4, 6) THEN 'tool'
           WHEN m % 8 = 5 OR m % 3 = 2 THEN 'bot' END AS ua_type,
      CASE WHEN m % 8 = 0 THEN CAST(100 + m % 20 AS VARCHAR) || '.0'
           WHEN m % 8 = 1 THEN CAST(14 + m % 3 AS VARCHAR) || '.1'
           WHEN m % 8 = 2 THEN CAST(90 + m % 10 AS VARCHAR) || '.0'
           WHEN m % 8 = 3 THEN CAST(99 + m % 5 AS VARCHAR) || '.0'
           WHEN m % 8 = 4 THEN CAST(7 + m % 2 AS VARCHAR) || '.68.0'
           WHEN m % 8 = 5 THEN (CASE WHEN m % 3 = 0 THEN '2.0' ELSE '2.1' END)
           WHEN m % 8 = 6 THEN '2.' || CAST(m % 30 AS VARCHAR) END AS ua_version,
      CASE WHEN m % 8 = 0 THEN (CASE WHEN m % 3 = 0 THEN 'Android' ELSE 'Windows' END)
           WHEN m % 8 = 1 THEN (CASE WHEN m % 3 = 1 THEN 'iOS' ELSE 'macOS' END)
           WHEN m % 8 = 2 THEN 'Linux'
           WHEN m % 8 = 3 THEN 'iOS' END AS ua_os,
      CASE WHEN m % 8 = 5 OR (m % 8 = 7 AND m % 3 = 2) THEN 'Spider'
           WHEN m % 8 = 0 THEN (CASE WHEN m % 3 = 0 THEN 'Generic Smartphone' ELSE 'Other' END)
           WHEN m % 8 = 1 THEN (CASE WHEN m % 3 = 1 THEN 'iPhone' ELSE 'Mac' END)
           WHEN m % 8 = 3 THEN 'iPhone'
           WHEN m % 8 IN (2, 4, 6) THEN 'Other' END AS ua_device
    FROM e
    """,
    doc="E10 — user-agent parsing (UserAgentSpanEnricher.java:27-68, "
        "uap-core shape): vectorized regex rule table with first-match "
        "precedence covering mobile browser variants (Chrome Mobile, "
        "Mobile Safari), named bots (Googlebot, bingbot) plus the generic "
        "bot/crawler/spider fallback, and UAP device families (Spider, "
        "iPhone, Generic Smartphone, Mac, Other) over deterministically "
        "composed UA strings; the oracle restates "
        "family/type/version/os/device from the composition arithmetic.",
)
def p_user_agent(spark, sf_dir):
    from .functions import ua as ua_mod

    e = _events_m(spark, sf_dir)
    m = F.col("m")
    ua = (
        F.when(
            (m % 8 == 0) & (m % 3 == 0),
            F.concat(F.lit("Mozilla/5.0 (Linux; Android 11; Pixel 5) Chrome/"),
                     _s(100 + m % 20), F.lit(".0 Mobile Safari/537.36")),
        )
        .when(m % 8 == 0, F.concat(F.lit("Mozilla/5.0 (Windows NT 10.0) Chrome/"),
                                   _s(100 + m % 20), F.lit(".0")))
        .when(
            (m % 8 == 1) & (m % 3 == 1),
            F.concat(F.lit("Mozilla/5.0 (iPhone; CPU iPhone OS 14_6 like Mac OS X) Version/"),
                     _s(14 + m % 3), F.lit(".1 Mobile/15E148 Safari/604.1")),
        )
        .when(m % 8 == 1, F.concat(F.lit("Mozilla/5.0 (Macintosh; Mac OS X 10_15) Version/"),
                                   _s(14 + m % 3), F.lit(".1 Safari/605")))
        .when(m % 8 == 2, F.concat(F.lit("Mozilla/5.0 (X11; Linux x86_64) Firefox/"),
                                   _s(90 + m % 10), F.lit(".0")))
        .when(m % 8 == 3, F.concat(F.lit("Mozilla/5.0 (iPhone) Edg/"),
                                   _s(99 + m % 5), F.lit(".0")))
        .when(m % 8 == 4, F.concat(F.lit("curl/"), _s(7 + m % 2), F.lit(".68.0")))
        .when((m % 8 == 5) & (m % 3 == 0),
              F.lit("Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)"))
        .when(m % 8 == 5, F.lit("Googlebot/2.1"))
        .when(m % 8 == 6, F.concat(F.lit("python-requests/2."), _s(m % 30)))
        .when(m % 3 == 2, F.lit("WeirdCrawler v1"))
        .otherwise(F.lit("weird-agent"))
    )
    df = e.select("event_id", ua.alias("user_agent"))
    out = ua_mod.parse_user_agents(df)
    return out.select(
        "event_id", "ua_family", "ua_type", "ua_version", "ua_os", "ua_device"
    )


# ---------------------------------------------------------------------------
# E15 — GRPC request endpoint/url; P13 — dispatcher; A3 — OTLP gauges
# ---------------------------------------------------------------------------

# E15 grpc request endpoint is folded into "p_grpc_fields" above (second
# tag frame); the P13 dispatcher is folded into "p_sql_fields" above.


@register(
    "a_otlp_gauges",
    f"""
    WITH e AS (
      SELECT event_type, epoch_ms(ts) AS ts_ms FROM events
    ),
    w AS (
      SELECT ts_ms - ts_ms % 3600000 AS bucket_start_ms, event_type,
             count(*) AS num_rows
      FROM e GROUP BY 1, 2
    )
    SELECT 'num_calls' AS metric_name,
           bucket_start_ms * 1000000 AS time_unix_nano,
           CAST(num_rows AS DOUBLE) AS gauge_value,
           'event_type=' || COALESCE(event_type, '') AS attributes_kv,
           md5(concat_ws('|', 'num_calls', 'event_type=' || COALESCE(event_type, ''),
                         CAST(bucket_start_ms * 1000000 AS VARCHAR))) AS metric_key
    FROM w
    """,
    doc="A3+A1-key OTLP conversion (MetricEmitPunctuator.java:78-131): "
        "windowed counts flattened to ResourceMetrics gauge data points — "
        "metric name, window-start time_unix_nano, double value, serialized "
        "attribute tuple — each carrying its MetricIdentity key = hash of "
        "metric name + attr tuple + window (MetricsProcessor.java:129-136 "
        "uuid5 analog as md5).",
)
def a_otlp_gauges(spark, sf_dir):
    from .operators import aggregate as agg_ops
    from .sources import load_table

    e = load_table(spark, sf_dir, "events").withColumn(
        "ts_ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    bucket = (F.col("ts_ms") - F.col("ts_ms") % 3_600_000).alias("bucket_start_ms")
    metrics = e.groupBy(bucket, "event_type").agg(F.count(F.lit(1)).alias("num_rows"))
    gauges = agg_ops.to_otlp_gauges(metrics)
    return gauges.withColumn(
        "metric_key",
        F.md5(
            F.concat_ws(
                "|",
                F.col("metric_name"),
                F.col("attributes_kv"),
                F.col("time_unix_nano").cast("string"),
            )
        ),
    )


@register(
    "x_multimodal_features",
    # FULL oracle (round-4 upgrade, spandom pattern): the media table is
    # synthesized from closed-form laws of the row index i
    # (operators/multimodal.py media_image/media_audio/media_video:
    # image w=16+(i%8)*8, h=16+(i%6)*8; audio dur=500+(i%10)*500;
    # video 32x24, dur=(1+(i%10))*500). Spark gets the SAME numbers only by
    # building REAL PNG/WAV/Y4M container bytes and decoding them back with
    # the stdlib codecs; DuckDB restates the expected decode output directly
    # from the generative laws over generate_series — a hash match therefore
    # verifies the encode->decode round trip end-to-end (dims, durations,
    # decode success), not the generator alone.
    """
    WITH m AS (
      SELECT CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             CASE i % 3 WHEN 0 THEN 16 + (i % 8) * 8 WHEN 2 THEN 32 END AS width,
             CASE i % 3 WHEN 0 THEN 16 + (i % 6) * 8 WHEN 2 THEN 24 END AS height,
             CASE i % 3 WHEN 1 THEN 500 + (i % 10) * 500
                        WHEN 2 THEN (1 + (i % 10)) * 500 END AS duration_ms
      FROM generate_series(0, 299) AS t(i)
    )
    SELECT kind,
           CAST(count(*) AS BIGINT) AS n_media,
           CAST(count(*) AS BIGINT) AS n_decoded,
           CAST(sum(width) AS BIGINT) AS sum_width,
           CAST(sum(height) AS BIGINT) AS sum_height,
           CAST(sum(duration_ms) AS BIGINT) AS sum_duration_ms,
           CAST(count(DISTINCT coalesce(width, -1)::VARCHAR || ':' ||
                               coalesce(height, -1)::VARCHAR || ':' ||
                               coalesce(duration_ms, -1)::VARCHAR) AS BIGINT)
             AS n_dim_variants
    FROM m GROUP BY kind
    """,
    doc="Multimodal decode under the gate (FULL oracle since round 4): "
        "synthetic media with REAL container payloads (PNG / 16-bit PCM WAV "
        "/ Y4M raw video, all built and decoded by the stdlib-only codecs "
        "in functions/codecs.py; compressed codecs remain the documented "
        "seam) -> mapInPandas decode/feature extraction (payload dropped "
        "before the aggregate shuffle) -> per-kind rollup of decode-success "
        "counts and DECODED dimensions/durations. The oracle restates the "
        "expected decoded values from the generator's closed-form laws, so "
        "agreement proves the container round trip, not just the rollup. "
        "Byte counts / payload-hash distinctness (compression-dependent, "
        "not SQL-statable) stay under tests/test_multimodal.py.",
)
def x_multimodal_features(spark, sf_dir):
    from .operators import multimodal as mm

    media = mm.generate_media(spark, 300)
    feats = mm.extract_features(media)
    dim_key = F.concat_ws(
        ":",
        F.coalesce(F.col("width"), F.lit(-1)).cast("string"),
        F.coalesce(F.col("height"), F.lit(-1)).cast("string"),
        F.coalesce(F.col("duration_ms"), F.lit(-1)).cast("string"),
    )
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.col("decoded").cast("int")).cast("long").alias("n_decoded"),
        F.sum("width").cast("long").alias("sum_width"),
        F.sum("height").cast("long").alias("sum_height"),
        F.sum("duration_ms").cast("long").alias("sum_duration_ms"),
        F.countDistinct(dim_key).alias("n_dim_variants"),
    )


_ANN_SQL = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
),
-- IVF: centroids = the raw corpus vectors vec_id 0..15 (cell = vec_id)
cent AS (SELECT vec_id AS cell, e AS ce, nrm AS cnrm FROM v WHERE vec_id < 16),
asn AS (
  SELECT v.vec_id, cent.cell,
         row_number() OVER (PARTITION BY v.vec_id
           ORDER BY list_dot_product(v.e, cent.ce) / (v.nrm * cent.cnrm) DESC, cent.cell ASC) AS rn
  FROM v CROSS JOIN cent
),
corpus_cells AS (SELECT vec_id, cell FROM asn WHERE rn = 1),
query_cells  AS (SELECT vec_id, cell FROM asn WHERE vec_id < 20 AND rn <= 4),
ivf_scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(qv.e, cv.e) / (qv.nrm * cv.nrm) AS cos_sim
  FROM query_cells q JOIN corpus_cells c USING (cell)
  JOIN v qv ON qv.vec_id = q.vec_id JOIN v cv ON cv.vec_id = c.vec_id
  WHERE c.vec_id != q.vec_id
),
ivf_top AS (
  SELECT 'ivf' AS method, query_id, neighbor_id, rank, cos_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM ivf_scored) WHERE rank <= 5
),
-- LSH: plane p = corpus vector vec_id 100+p; table t = p//16, bit b = p%16
pl AS (
  SELECT (vec_id - 100) // 16 AS t, (vec_id - 100) % 16 AS b, e AS pe
  FROM v WHERE vec_id BETWEEN 100 AND 355
),
marg AS (
  SELECT v.vec_id, pl.t, pl.b, list_dot_product(v.e, pl.pe) AS m
  FROM v CROSS JOIN pl
),
sig AS (
  SELECT vec_id, t,
         CAST(SUM(CASE WHEN m > 0 THEN (1::BIGINT << b) ELSE 0 END)
              + (t::BIGINT << 16) AS BIGINT) AS bucket
  FROM marg GROUP BY vec_id, t
),
qflip AS (
  SELECT vec_id, t, b FROM (
    SELECT vec_id, t, b,
           row_number() OVER (PARTITION BY vec_id, t ORDER BY abs(m) ASC, b ASC) AS rn
    FROM marg WHERE vec_id < 20) WHERE rn = 1
),
query_buckets AS (
  SELECT vec_id, bucket FROM sig WHERE vec_id < 20
  UNION ALL
  SELECT s.vec_id, xor(s.bucket, 1::BIGINT << f.b) AS bucket
  FROM sig s JOIN qflip f ON s.vec_id = f.vec_id AND s.t = f.t
),
lsh_scored AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(qv.e, cv.e) / (qv.nrm * cv.nrm) AS cos_sim
  FROM query_buckets q JOIN sig c USING (bucket)
  JOIN v qv ON qv.vec_id = q.vec_id JOIN v cv ON cv.vec_id = c.vec_id
  WHERE c.vec_id != q.vec_id
),
lsh_top AS (
  SELECT 'lsh' AS method, query_id, neighbor_id, rank, cos_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM lsh_scored) WHERE rank <= 5
),
-- IVF-PQ: codebook entry c of subspace j = raw subvector j of corpus
-- vector vec_id 400+c (m=8 subspaces x dsub=8 dims, kk=16 entries);
-- distances in the fold-expansion form faa - 2.0*fab + fbb so both
-- engines accumulate identically (list_dot_product == strict fold)
subsp AS (SELECT j FROM generate_series(0, 7) AS g(j)),
cb AS (
  SELECT (v.vec_id - 400) AS c, s.j,
         list_slice(v.e, s.j * 8 + 1, s.j * 8 + 8) AS cbv,
         list_dot_product(list_slice(v.e, s.j * 8 + 1, s.j * 8 + 8),
                          list_slice(v.e, s.j * 8 + 1, s.j * 8 + 8)) AS fbb
  FROM v CROSS JOIN subsp s WHERE v.vec_id BETWEEN 400 AND 415
),
sub AS (
  SELECT v.vec_id, s.j,
         list_slice(v.e, s.j * 8 + 1, s.j * 8 + 8) AS sv,
         list_dot_product(list_slice(v.e, s.j * 8 + 1, s.j * 8 + 8),
                          list_slice(v.e, s.j * 8 + 1, s.j * 8 + 8)) AS saa
  FROM v CROSS JOIN subsp s
),
codes AS (
  SELECT vec_id, j, c AS code FROM (
    SELECT sub.vec_id, sub.j, cb.c,
           row_number() OVER (PARTITION BY sub.vec_id, sub.j
             ORDER BY (sub.saa - 2.0 * list_dot_product(sub.sv, cb.cbv) + cb.fbb) ASC,
                      cb.c ASC) AS rn
    FROM sub JOIN cb ON sub.j = cb.j) WHERE rn = 1
),
qlut AS (
  SELECT sub.vec_id AS query_id, sub.j, cb.c,
         (sub.saa - 2.0 * list_dot_product(sub.sv, cb.cbv) + cb.fbb) AS qd
  FROM sub JOIN cb ON sub.j = cb.j WHERE sub.vec_id < 20
),
pq_cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM query_cells q JOIN corpus_cells c USING (cell)
  WHERE c.vec_id != q.vec_id
),
adc AS (
  SELECT pq_cand.query_id, pq_cand.neighbor_id,
         list_dot_product(
           list(qlut.qd ORDER BY qlut.j),
           [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]) AS adc_dist
  FROM pq_cand
  JOIN codes ON codes.vec_id = pq_cand.neighbor_id
  JOIN qlut ON qlut.query_id = pq_cand.query_id
           AND qlut.j = codes.j AND qlut.c = codes.code
  GROUP BY pq_cand.query_id, pq_cand.neighbor_id
),
ivfpq_top AS (
  SELECT 'ivfpq' AS method, query_id, neighbor_id, rank, adc_dist AS score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
    FROM adc) WHERE rank <= 5
)
SELECT method, query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       CAST(floor(score * 1000000 + 0.5) AS BIGINT) AS score_1e6
FROM (SELECT method, query_id, neighbor_id, rank, cos_sim AS score FROM ivf_top
      UNION ALL SELECT method, query_id, neighbor_id, rank, cos_sim AS score FROM lsh_top
      UNION ALL SELECT * FROM ivfpq_top)
"""


@register(
    "s_ann_ivf",
    _ANN_SQL,
    doc="ALL THREE ANN scale paths under one gate (round-4 VERDICT #6; "
        "round-5 VERDICT #2 adds IVF-PQ): a UNION of labeled (method, "
        "query_id, neighbor_id, rank, score_1e6) rows from (a) IVF — "
        "corpus in inverted lists by coarse centroid, queries probe "
        "nprobe=4 cells and rerank exactly inside them, one corpus "
        "shuffle keyed by cell — (b) hyperplane LSH — 16-table "
        "multiprobe bucket join, pass-through signer, no join-back "
        "shuffle — and (c) IVF-PQ — the same probe set ADC-scanned over "
        "m=8 subspace codes (corpus-derived codebooks = raw subvectors "
        "of vec_id 400-415; distances in the faa-2fab+fbb fold-expansion "
        "form so DuckDB restates codes, LUTs, and the ordered-j ADC sum "
        "via list_dot_product with a ones vector). "
        "FULL oracle (late round 4, spandom/md5 pattern variant): the gated "
        "entry derives planes and centroids from CORPUS vectors both "
        "engines read from the same parquet (vectors_by_id) and runs the "
        "signer/assigner in exact_fold mode (strict index-order "
        "accumulation, bit-identical to list_dot_product — proven property "
        "of d_embed_near_dup), so DuckDB restates signatures, probe sets, "
        "cell assignments, candidate joins, exact rerank, and the "
        "micro-cosine itself. Production defaults keep the seeded-numpy "
        "planes / k-means centroids + BLAS matmul — the machinery is "
        "plane/centroid-agnostic; recall vs brute force stays asserted in "
        "tests/test_similarity_ivf.py and the bench recall table.",
)
def s_ann_ivf(spark, sf_dir):
    import numpy as np

    from .operators import similarity as sim
    from .sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    vecs = sim.vectors_by_id(emb, 0, 416)          # one bounded collect
    cents = vecs[0:16]                             # (16, 64) raw corpus rows
    planes = vecs[100:356].T                       # (dim, tables*bits)
    # PQ codebooks from raw corpus subvectors: entry c of subspace j is
    # dims [j*8, j*8+8) of corpus vector 400+c -> shape (m=8, kk=16, dsub=8)
    cbsrc = vecs[400:416]                          # (16, 64)
    books = np.stack([cbsrc[:, j * 8:(j + 1) * 8] for j in range(8)])

    def label(df, method, score_col):
        return df.select(
            F.lit(method).alias("method"), "query_id", "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.floor(F.col(score_col) * F.lit(1000000.0) + F.lit(0.5))
            .cast("long").alias("score_1e6"),
        )

    ivf = sim.ivf_topk(emb, queries, dim=64, k=5, centroids=cents,
                       exact_fold=True, round_cos=None)
    lsh = sim.ann_topk(emb, queries, dim=64, k=5, tables=16, nprobe=2,
                       planes=planes, exact_fold=True, round_cos=None)
    pq = sim.ivfpq_topk(emb, queries, dim=64, codebooks=books, k=5,
                        nprobe=sim.IVF_NPROBE, centroids=cents,
                        normalize=False, exact_fold=True,
                        ).withColumnRenamed("vec_id", "neighbor_id")
    return (
        label(ivf, "ivf", "cos_sim")
        .unionByName(label(lsh, "lsh", "cos_sim"))
        .unionByName(label(pq, "ivfpq", "adc_dist"))
    )
