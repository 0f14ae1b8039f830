"""Oracle coverage for a library query that lives OUTSIDE the 50-entry
driver catalog (the driver samples the first 50 registered entries, so the
round-3 consolidation moved it here):

- q_topk_orders — top-k by aggregate with deterministic tiebreak
  (TakeOrderedAndProject); its plan shape also appears in
  s_knn_bruteforce's two-phase top-k.

The Arrow-batched grok variant (``parse.grok_extract_pandas``) is asserted
equal to the JVM ``grok_extract`` path in tests/test_parse.py.
"""

import os

import pytest

from hypertrace_ingester_spark.oracle import compare, duckdb_connection
from hypertrace_ingester_spark.queries import q_topk_orders

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata dir {SF_DIR} missing"
)

_TOPK_SQL = """
    SELECT o.o_orderkey, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey
    ORDER BY revenue DESC, o.o_orderkey ASC
    LIMIT 10
"""


def test_topk_orders_matches_oracle(spark):
    duck = duckdb_connection(SF_DIR)
    spark_pdf = q_topk_orders(spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(_TOPK_SQL).df()
    problems = compare(spark_pdf, duck_pdf)
    assert not problems, "; ".join(problems)

