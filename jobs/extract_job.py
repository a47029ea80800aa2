#!/usr/bin/env python
"""spark-submit entry point for the checkpointed extraction job.

Usage (local sandbox):
    scripts/package.sh   # builds dist/engine.zip
    spark-submit --py-files dist/engine.zip jobs/extract_job.py \
        --input /path/to/transcripts_parquet --output /path/out \
        --run-id run-1 [--num-partitions 256] [--synthesize N_CONVS]

On a real cluster add executor sizing. The job writes the parquet sink
of engine/spark/job.py; the Iceberg MERGE sink (engine/spark/iceberg.py)
is not wired yet and waits for the iceberg-spark-runtime jar.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="checkpointed transcript extraction")
    ap.add_argument("--input", help="dir with TRANSCRIPT_SCHEMA rows")
    ap.add_argument("--input-format", choices=["parquet", "jsonl"],
                    default="parquet",
                    help="jsonl = schema-enforced read; malformed lines "
                         "route to <output>/source_errors")
    ap.add_argument("--synthesize", type=int, default=0,
                    help="instead of --input: generate N deterministic conversations")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="run-1")
    ap.add_argument("--num-partitions", type=int, default=None)
    args = ap.parse_args(argv)
    if not args.input and not args.synthesize:
        ap.error("one of --input / --synthesize is required")

    from pyspark.sql import SparkSession

    from engine.spark.job import run_checkpointed
    from engine.spark.monitor import run_totals
    from engine.spark.transcripts import (
        synthesize_transcripts,
        transcripts_from_jsonl,
    )

    # spark-submit provides the session config (master, executors, ...);
    # only stop a session this job created — an in-process caller
    # (tests, notebooks) keeps its own session alive
    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("extract-transcripts").getOrCreate()

    n_source_errors = 0
    if args.input and args.input_format == "jsonl":
        transcripts, source_errors = transcripts_from_jsonl(spark, args.input)
        # route malformed lines to the errors table before extraction
        # pays per-byte; count via the written table (single job each)
        source_errors.write.mode("overwrite").parquet(
            f"{args.output}/source_errors"
        )
        n_source_errors = (
            spark.read.parquet(f"{args.output}/source_errors").count()
        )
    elif args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        transcripts = synthesize_transcripts(spark, args.synthesize)

    results = run_checkpointed(
        spark,
        transcripts,
        args.output,
        run_id=args.run_id,
        num_partitions=args.num_partitions
        or spark.sparkContext.defaultParallelism * 4,
    )
    n = results.count()
    print(json.dumps({
        "run_id": args.run_id,
        "rows_in_sink": n,
        **run_totals(spark, args.output, args.run_id),
        "source_errors": n_source_errors,
    }))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
