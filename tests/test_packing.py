"""Sequence packing (GPT-2 concat-and-chunk) — full DuckDB oracle.

DuckDB states the global exclusive prefix sum as one window over the total
order; Spark must reproduce it exactly (integers, no tolerance) through the
bucketed two-phase distributed prefix — bucket-count choices can't change
the answer, only the plan."""

import os

import pytest

from pyspark.sql import functions as F

from hypertrace_ingester_spark.operators import sampling
from hypertrace_ingester_spark.oracle import compare, duckdb_connection

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata dir {SF_DIR} missing"
)

BLOCK = 128

_ORACLE_SQL = f"""
WITH toks AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
off AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tok_offset
  FROM toks WHERE n_tokens > 0
)
SELECT doc_id, n_tokens, tok_offset,
       tok_offset // {BLOCK} AS first_block,
       (tok_offset + n_tokens - 1) // {BLOCK} AS last_block,
       (tok_offset + n_tokens - 1) // {BLOCK} - tok_offset // {BLOCK} + 1
         AS n_blocks
FROM off
"""


def _docs_with_tokens(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    return docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )


@pytest.mark.parametrize("buckets", [7, 1024])
def test_pack_offsets_matches_duckdb_oracle(spark, buckets):
    got = sampling.pack_offsets(
        _docs_with_tokens(spark), block_tokens=BLOCK, buckets=buckets
    ).toPandas()
    want = duckdb_connection(SF_DIR).execute(_ORACLE_SQL).fetchdf()
    problems = compare(got, want)
    assert not problems, problems


def test_pack_blocks_invariants(spark):
    packed = sampling.pack_offsets(_docs_with_tokens(spark), block_tokens=BLOCK)
    blocks = sampling.pack_blocks(packed, block_tokens=BLOCK)
    total_tokens = packed.agg(F.sum("n_tokens")).first()[0]
    per_block = (
        blocks.groupBy("block_id").agg(F.sum("n_toks").alias("filled")).collect()
    )
    n_full_blocks = total_tokens // BLOCK
    fills = {r["block_id"]: r["filled"] for r in per_block}
    # every block before the tail is exactly full; the tail holds the rest
    assert all(fills[b] == BLOCK for b in range(n_full_blocks))
    tail = total_tokens % BLOCK
    if tail:
        assert fills[n_full_blocks] == tail
    assert sorted(fills) == list(range(len(fills)))  # no gaps
    # slices are in-range and non-empty
    bad = blocks.where(
        (F.col("tok_start") < 0) | (F.col("tok_end") > BLOCK)
        | (F.col("n_toks") <= 0)
    ).count()
    assert bad == 0


def test_pack_offsets_empty_and_zero_token_docs(spark):
    df = spark.createDataFrame(
        [(0, 5), (1, 0), (2, 3)], "doc_id long, n_tokens long"
    )
    out = {r["doc_id"]: r for r in sampling.pack_offsets(
        df, block_tokens=4).collect()}
    assert set(out) == {0, 2}  # zero-token doc occupies no positions
    assert out[0]["tok_offset"] == 0 and out[2]["tok_offset"] == 5
    assert out[0]["first_block"] == 0 and out[0]["last_block"] == 1
    assert out[2]["first_block"] == 1 and out[2]["last_block"] == 1
    empty = sampling.pack_offsets(df.where("n_tokens < 0"))
    assert empty.count() == 0


def test_bucket_bases_dim_is_jvm_local(spark):
    """The per-bucket token bases join in as a LocalRelation, not a
    LogicalRDD (a Python-RDD scan every job re-runs in Python workers)."""
    out = sampling.pack_offsets(_docs_with_tokens(spark), block_tokens=BLOCK, buckets=7)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    lines = [ln for ln in plan.splitlines() if "_pk_base" in ln]
    assert any("LocalRelation" in ln for ln in lines), plan
    assert "LogicalRDD" not in plan, plan
