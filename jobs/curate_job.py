#!/usr/bin/env python
"""spark-submit entry point for the TRANSCRIPT curation job: raw
multi-turn transcripts in, loader-ready packed conversation table out.

Usage (local sandbox):
    scripts/package.sh   # builds dist/engine.zip
    spark-submit --py-files dist/engine.zip jobs/curate_job.py \
        --input /path/with/transcripts.parquet --output /path/out \
        [--mode prepare|curate|gate] [--min-conv-tokens 64] \
        [--seq-len 4096] [--shards 16] [--min-jaccard 0.5] \
        [--min-run 3] [--context-limit 4096] \
        [--synthesize N]   # N conversations instead of --input

Pipeline: extraction (the fused Arrow-batched stage — HTML/PDF
main-content extraction, clean, chunk, detect, validate) → then
- prepare: exact conversation dedup → quality gate → packing;
- curate: (exact ∪ LSH-verified near-dup) dedup → gate → packing;
- gate: NO extraction — the structural trajectory gates run on the
  raw turns (conversation_wellformed ∧ ¬agent_loop_detect, plus the
  context_fit planning columns) and emit one row per conversation
  with a keep flag, the pre-filter a curation run applies before
  paying for extraction.

Output overwrite is idempotent: every stage is deterministic, so a
failed/killed run is re-submitted as-is. A metrics JSON line (turns
and conversations in, conversations packed, drop rate) is written
beside the table through Spark (object-store/HDFS-safe).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="transcript curation")
    ap.add_argument("--input", help="dir containing transcripts.parquet "
                    "(conv_id, turn_idx, role, text, tool, ts)")
    ap.add_argument("--synthesize", type=int, default=0,
                    help="generate N deterministic conversations instead "
                    "of reading --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--mode", choices=("prepare", "curate", "gate"),
                    default="curate")
    ap.add_argument("--min-conv-tokens", type=int, default=64)
    ap.add_argument("--seq-len", type=int, default=4096)
    ap.add_argument("--shards", type=int, default=16)
    ap.add_argument("--min-jaccard", type=float, default=0.5)
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--min-run", type=int, default=3,
                    help="gate mode: consecutive identical actions "
                    "that count as a loop")
    ap.add_argument("--context-limit", type=int, default=4096,
                    help="gate mode: context_fit token limit")
    args = ap.parse_args(argv)
    if not args.input and not args.synthesize:
        ap.error("one of --input or --synthesize is required")

    from pyspark.sql import SparkSession

    from engine.spark.monitor import finish_job
    from engine.spark.pipeline import (
        run_extraction,
        transcript_curate,
        transcript_prepare,
    )
    from engine.spark.transcripts import synthesize_transcripts

    # only stop a session this job created — an in-process caller
    # (tests, notebooks) keeps its own session alive
    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName(
        f"transcript-{args.mode}"
    ).getOrCreate()

    if args.synthesize:
        t = synthesize_transcripts(spark, args.synthesize, 4)
    else:
        t = spark.read.parquet(f"{args.input}/transcripts.parquet")
    n_turns = t.count()

    if args.mode == "gate":
        return _gate_mode(spark, t, n_turns, args, owns_session)

    per_turn = run_extraction(t, num_partitions=args.partitions).select(
        "conv_id", "turn_idx", "cleaned_text"
    )
    n_convs = per_turn.select("conv_id").distinct().count()

    if args.mode == "curate":
        out = transcript_curate(
            per_turn,
            min_conv_tokens=args.min_conv_tokens,
            seq_len=args.seq_len,
            n_shards=args.shards,
            min_jaccard=args.min_jaccard,
        )
    else:
        out = transcript_prepare(
            per_turn,
            min_conv_tokens=args.min_conv_tokens,
            seq_len=args.seq_len,
            n_shards=args.shards,
        )

    dest = f"{args.output}/packed_{args.mode}"
    out.write.mode("overwrite").parquet(dest)
    n_out = spark.read.parquet(dest).count()
    metrics = {
        "mode": args.mode,
        "turns_in": n_turns,
        "convs_in": n_convs,
        "convs_packed": n_out,
        "drop_rate": round(1 - n_out / n_convs, 6) if n_convs else None,
        "output": dest,
    }
    finish_job(spark, args.output, args.mode, metrics, owns_session)
    return 0


def _gate_mode(spark, t, n_turns: int, args, owns_session: bool) -> int:
    """Structural trajectory gating on the RAW turns (no extraction):
    one row per conversation with wellformedness, loop, and context-fit
    signals plus the keep decision (wellformed ∧ not looping). All
    three gates are conv_id-keyed windows/aggregates, so the three-way
    join is co-partitioned and the whole mode costs a handful of
    conv_id exchanges — the cheap pre-filter before extraction pays
    per-byte."""
    from engine.spark.agent import (
        context_fit,
        conversation_wellformed,
        loop_detect,
    )
    from engine.spark.monitor import finish_job

    wf = conversation_wellformed(t).select(
        "conv_id", "n_turns", "is_wellformed"
    )
    loops = loop_detect(t, min_run=args.min_run).select(
        "conv_id", "max_run", "is_looping"
    )
    fit = context_fit(t, limit=args.context_limit).select(
        "conv_id", "total_tokens", "n_turns_fit", "tokens_fit", "fits"
    )
    from pyspark.sql import functions as F

    # NOTE: with the full (role, tool, text) action signature a loop of
    # k>=2 identical actions necessarily contains adjacent same-role
    # repeats, so is_looping implies NOT is_wellformed and the
    # ~is_looping conjunct is a defensive guard (it becomes load-
    # bearing only for signature variants that exclude role); the loop
    # columns are the diagnostic payload either way.
    out = (
        wf.join(loops, "conv_id")
        .join(fit, "conv_id")
        .withColumn(
            "keep", F.col("is_wellformed") & ~F.col("is_looping")
        )
    )
    dest = f"{args.output}/gate"
    out.write.mode("overwrite").parquet(dest)
    gated = spark.read.parquet(dest)
    agg = gated.agg(
        F.count("*").alias("n"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
        F.sum(F.col("is_looping").cast("long")).alias("looping"),
        F.sum((~F.col("is_wellformed")).cast("long")).alias("malformed"),
        F.sum(F.col("fits").cast("long")).alias("fits"),
    ).collect()[0]
    # empty input: count is 0 but every sum() is NULL — coalesce so an
    # upstream stage that produced nothing still gets its metrics line
    metrics = {
        "mode": "gate",
        "turns_in": n_turns,
        "convs_in": int(agg["n"]),
        "convs_kept": int(agg["kept"] or 0),
        "looping": int(agg["looping"] or 0),
        "malformed": int(agg["malformed"] or 0),
        "fits_context": int(agg["fits"] or 0),
        "drop_rate": round(1 - (agg["kept"] or 0) / agg["n"], 6)
        if agg["n"] else None,
        "output": dest,
    }
    finish_job(spark, args.output, "gate", metrics, owns_session)
    return 0


if __name__ == "__main__":
    sys.exit(main())
