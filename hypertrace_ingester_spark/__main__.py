"""spark-submit entrypoint (north rule: launched via spark-submit --py-files).

Package the library and submit:

    cd /root/repo && zip -qr /tmp/hti_spark.zip hypertrace_ingester_spark
    spark-submit --py-files /tmp/hti_spark.zip \
        hypertrace_ingester_spark/__main__.py \
        --input /path/to/sequences_parquet --out /path/to/run_dir \
        [--resume] [--rows N]          # --rows: generate input instead

On a cluster, spark-submit's --master/--conf take precedence; the session
factory only fills in defaults (AQE, Arrow, codegen limits) when unset.
"""

from __future__ import annotations

import argparse
import json
import sys

from hypertrace_ingester_spark import datagen
from hypertrace_ingester_spark.plans.pipeline import PipelineConfig, run_pipeline
from hypertrace_ingester_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="hypertrace_ingester_spark")
    ap.add_argument("--input", help="path to sequences table (parquet/Iceberg)")
    ap.add_argument("--out", required=True, help="run output directory")
    ap.add_argument("--rows", type=int, help="generate a synthetic input of N rows instead of --input")
    ap.add_argument("--resume", action="store_true", help="resume from the run manifest")
    ap.add_argument("--checkpoint-parse", action="store_true")
    ap.add_argument("--salt-buckets", type=int, default=None)
    ap.add_argument("--lineage", action="store_true",
                    help='record each routed file\'s row count (manifest '
                         'partition_lineage: {"file", "rows"} per file)')
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    if not args.input and not args.rows:
        ap.error("one of --input / --rows is required")

    spark = get_spark(app_name="hypertrace-ingester-pipeline", master=args.master)
    seqs = (
        spark.read.parquet(args.input)
        if args.input
        else datagen.generate_sequences(spark, args.rows)
    )
    manifest = run_pipeline(
        spark,
        seqs,
        PipelineConfig(
            out_dir=args.out,
            checkpoint_parse=args.checkpoint_parse,
            salt_buckets=args.salt_buckets,
        ),
        resume=args.resume,
        lineage=args.lineage,
    )
    print(json.dumps({"out": args.out,
                      "total_routed_rows": manifest["total_routed_rows"],
                      "sink_counts": manifest["stages"]["route"]["sink_counts"],
                      "elapsed_sec": manifest["elapsed_sec"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
