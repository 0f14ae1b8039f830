"""Output checks, run outside the timed region.

Pipeline outputs are restated in DuckDB straight from the input parquet:
a row is alive when its tenant is non-empty and its op is not
``healthcheck``, and source ``src-i`` routes to ``sink-(i % 3)``. Per sink,
the row count, ``sum(n_tok)`` and a token-array checksum must match the
routed sink; row count and ``sum(n_tok)`` must also match the metrics
output. Catalog results are compared with each entry's DuckDB oracle.
"""

from __future__ import annotations

import json
import os

import duckdb

from harness import parquet_files

# one row per sink: (rows, sum of n_tok, order-insensitive token checksum)
_PER_SINK = "count(*) AS n, sum(n_tok) AS tok, sum(hash(tokens)::HUGEINT) AS h"


def connect(n_cores: int, temp_dir: str) -> duckdb.DuckDBPyConnection:
    os.makedirs(temp_dir, exist_ok=True)
    return duckdb.connect(config={"threads": n_cores, "temp_directory": temp_dir})


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def restate(con, input_files: list[str]) -> dict[str, tuple]:
    """Expected per-sink (rows, sum n_tok, checksum) from the raw input."""
    rows = con.execute(f"""
        SELECT 'sink-' || CAST(CAST(substr(source, 5) AS INTEGER) % 3 AS VARCHAR) AS sink,
               {_PER_SINK}
        FROM read_parquet({_sql_list(input_files)})
        WHERE regexp_extract(source_line, 'tenant=(\\S*)', 1) <> ''
          AND regexp_extract(source_line, 'op=(\\S+)', 1) <> 'healthcheck'
        GROUP BY 1""").fetchall()
    return {r[0]: tuple(r[1:]) for r in rows}


def _routed(con, files: list[str], hive: bool) -> dict[str, tuple]:
    rows = con.execute(f"""
        SELECT sink, {_PER_SINK}
        FROM read_parquet({_sql_list(files)}, hive_partitioning = {str(hive).lower()})
        GROUP BY 1""").fetchall()
    return {r[0]: tuple(r[1:]) for r in rows}


def _metrics(con, files: list[str]) -> dict[str, tuple]:
    rows = con.execute(f"""
        SELECT sink, sum(num_rows), sum(sum_tokens)
        FROM read_parquet({_sql_list(files)}, hive_partitioning = false)
        GROUP BY 1""").fetchall()
    return {r[0]: tuple(r[1:]) for r in rows}


def _compare(expected: dict, got: dict, what: str) -> list[str]:
    if expected == got:
        return []
    return [f"{what}: expected {expected} got {got}"]


def check_pipeline(con, expected: dict[str, tuple], out_dir: str) -> list[str]:
    """One ``run_pipeline`` output: routed sink, metrics and manifest."""
    problems = _compare(expected, _routed(con, parquet_files(f"{out_dir}/routed"), True),
                        "routed sink")
    by_sink = {k: v[:2] for k, v in expected.items()}
    problems += _compare(by_sink, _metrics(con, parquet_files(f"{out_dir}/metrics")),
                         "metrics")
    with open(os.path.join(out_dir, "_manifest.json")) as fh:
        counts = json.load(fh)["stages"]["route"]["sink_counts"]
    problems += _compare({k: v[0] for k, v in expected.items()}, counts,
                         "manifest sink_counts")
    return problems


def snapshot_files(table: str) -> list[str]:
    from hypertrace_ingester_spark.sources import snapshots

    return [os.path.join(table, f) for f in snapshots.snapshots(table)[-1].files]


def check_stream(con, expected: dict[str, tuple], out_dir: str) -> list[str]:
    """All committed micro-batches: the snapshot table and the per-batch
    metrics partitions together."""
    problems = _compare(
        expected, _routed(con, snapshot_files(f"{out_dir}/routed_snap"), False),
        "routed snapshot")
    by_sink = {k: v[:2] for k, v in expected.items()}
    problems += _compare(by_sink, _metrics(con, parquet_files(f"{out_dir}/metrics")),
                         "batch metrics")
    return problems


def count_rows(con, files: list[str]) -> int:
    return con.execute(f"SELECT count(*) FROM read_parquet({_sql_list(files)})").fetchone()[0]


CATALOG_TABLES = ("events", "documents", "embeddings")


def catalog_oracles(con, data_dir: str, names: list[str], cache_dir: str) -> dict:
    """Each query's oracle result over the catalog input tables.

    The recursive-CTE oracles take longer than the pass they check, and
    their input is fixed, so results are kept in ``cache_dir`` under a key
    of the DuckDB version, the oracle SQL and the input bytes; any change
    to those recomputes them."""
    import hashlib

    import pandas as pd

    from hypertrace_ingester_spark.queries import oracle_sql

    sql = oracle_sql()
    for t in CATALOG_TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    inputs = hashlib.sha256(duckdb.__version__.encode())
    for t in CATALOG_TABLES:
        with open(f"{data_dir}/{t}.parquet", "rb") as fh:
            inputs.update(fh.read())
    os.makedirs(cache_dir, exist_ok=True)
    out = {}
    for q in names:
        key = inputs.copy()
        key.update(sql[q].encode())
        path = os.path.join(cache_dir, f"{q}-{key.hexdigest()[:16]}.parquet")
        if not os.path.exists(path):
            tmp = f"{path}.{os.getpid()}.tmp"
            con.execute(sql[q]).df().to_parquet(tmp, index=False)
            os.replace(tmp, path)
        out[q] = pd.read_parquet(path)
    return out


def check_catalog(expected, result_dir: str) -> list[str]:
    """One query's written result against its oracle frame."""
    import pyarrow.parquet as pq

    from hypertrace_ingester_spark.oracle import compare

    got = pq.read_table(parquet_files(result_dir)).to_pandas()
    return compare(got, expected)
