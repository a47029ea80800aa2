#!/usr/bin/env python
"""spark-submit entry point for the corpus dedup / preparation job —
the keep-list (or loader-ready packed-corpus) write every downstream
training job reads.

Usage (local sandbox):
    scripts/package.sh   # builds dist/engine.zip
    spark-submit --py-files dist/engine.zip jobs/dedup_job.py \
        --input /path/with/documents.parquet --output /path/out \
        [--mode keep-list|prepare|decontaminate|manifest] \
        [--min-jaccard 0.5] [--min-words 30] [--seq-len 4096] \
        [--shards 16] [--eval-input /path/eval] [--seed epoch0]

Modes:
- keep-list: dedup_apply_lsh — exact + LSH-verified near-dup dedup,
  near-dup pairs grouped by dedup_clusters (min-label connected
  components with pointer jumping); writes the surviving doc ids.
- prepare: corpus_prepare — quality filter + dedup + fixed-token
  concat packing; writes the loader-ready (doc_id, shard, est_tokens,
  start_tok, bin) table.
- decontaminate: exact-13-gram AND MinHash near-dup decontamination
  against a held-out eval dir (--eval-input); writes the doc ids
  surviving BOTH arms.
- manifest: shuffle_shards — deterministic seeded epoch manifest
  (doc_id, shard_id, pos); re-run with a new --seed per epoch.

Output overwrite is idempotent: re-running the same invocation
produces the identical table (every stage is deterministic), so a
failed/killed run is simply re-submitted. A metrics JSON line
(rows in/out, drop rate) is written beside the table — via Spark, so
object-store/HDFS outputs work — for the run log.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="corpus dedup / preparation")
    ap.add_argument("--input", required=True,
                    help="dir containing documents.parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--mode",
        choices=("keep-list", "prepare", "decontaminate", "manifest"),
        default="keep-list",
    )
    ap.add_argument("--min-jaccard", type=float, default=0.5)
    ap.add_argument("--min-words", type=int, default=30)
    ap.add_argument("--seq-len", type=int, default=4096)
    ap.add_argument("--shards", type=int, default=16)
    ap.add_argument("--eval-input", default=None,
                    help="decontaminate mode: dir with the held-out "
                         "eval documents.parquet")
    ap.add_argument("--seed", default="epoch0",
                    help="manifest mode: shuffle seed (one per epoch)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from engine.spark import analytics as A
    from engine.spark.monitor import finish_job

    # only stop a session this job created — an in-process caller
    # (tests, notebooks) keeps its own session alive
    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName(f"dedup-{args.mode}").getOrCreate()

    n_in = A._docs(spark, args.input).count()
    if args.mode == "keep-list":
        out = A.dedup_apply_lsh(spark, args.input, min_jaccard=args.min_jaccard)
        table = "keep_list"
    elif args.mode == "decontaminate":
        # both arms vs a real eval dir: a doc survives only if neither
        # the exact 13-gram rule nor the MinHash near-dup rule hits it
        if not args.eval_input:
            ap.error("--eval-input is required with --mode decontaminate")
        corpus = A._docs(spark, args.input)
        ev = A._docs(spark, args.eval_input)
        exact = A.decontaminate_batch(corpus, ev)
        fuzzy = A.decontaminate_fuzzy_batch(
            corpus, ev, jaccard_threshold=args.min_jaccard
        )
        out = exact.join(fuzzy, "doc_id")
        table = "decontaminated"
    elif args.mode == "manifest":
        # loader-ready epoch manifest: deterministic seeded shard/pos
        # assignment; re-run with a new --seed for the next epoch
        out = A.shuffle_shards_batch(
            A._docs(spark, args.input), "doc_id",
            n_shards=args.shards, seed=args.seed,
        )
        table = f"manifest_{args.seed}"
    else:
        out = A.corpus_prepare(
            spark, args.input, min_words=args.min_words,
            min_jaccard=args.min_jaccard, seq_len=args.seq_len,
            n_shards=args.shards,
        )
        table = "prepared"

    dest = f"{args.output}/{table}"
    out.write.mode("overwrite").parquet(dest)
    n_out = spark.read.parquet(dest).count()
    metrics = {
        "mode": args.mode,
        "rows_in": n_in,
        "rows_out": n_out,
        "drop_rate": round(1 - n_out / n_in, 6) if n_in else None,
        "output": dest,
    }
    # manifest metrics are keyed per SEED — each epoch's manifest is its
    # own table, so its run record must not clobber the previous epoch's
    metrics_name = table if args.mode == "manifest" else args.mode
    finish_job(spark, args.output, metrics_name, metrics, owns_session)
    return 0


if __name__ == "__main__":
    sys.exit(main())
