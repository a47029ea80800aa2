"""Corpus-level observability over extraction output and run metrics.

Closes the loop the reference's per-request ExtractionMetrics
(extraction.py:53-103) can't: at table scale the interesting signal is
the *distribution* over time and partitions, not one request. All
functions are pure native expressions (zero Python, map-side partial
aggregation).
"""

from __future__ import annotations

import json
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


def quality_drift(results: "DataFrame", window: str = "1 day") -> "DataFrame":
    """Quality/emptiness drift per event-time window: the signal a
    100 TB ingest watches to catch a corrupted source or a regressed
    extractor deploy. Groups by (time window, quality bucket) — the
    window comes from turn ts, so late/out-of-order data lands in the
    right bucket regardless of processing order.

    Rows with a null ts are excluded — they have no event-time window;
    count them upstream (split_valid routes null keys) rather than
    letting them collapse into a null-window group that downstream
    window_start arithmetic can't handle."""
    return (
        results.filter(F.col("ts").isNotNull())
        .groupBy(
            F.window("ts", window).alias("w"), F.col("quality_bucket")
        )
        .agg(
            F.count("*").alias("n_turns"),
            F.round(F.avg("quality_score"), 3).alias("avg_quality"),
            F.round(F.avg(F.col("is_empty").cast("double")), 6).alias("empty_rate"),
            F.round(F.avg("overall_confidence"), 4).alias("avg_confidence"),
            F.sum("bytes_in").alias("bytes_in"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "quality_bucket",
            "n_turns",
            "avg_quality",
            "empty_rate",
            "avg_confidence",
            "bytes_in",
        )
    )


def partition_metrics(spark: "SparkSession", out_dir: str) -> "DataFrame":
    """The job's per-partition metrics table with one row per
    (run_id, part_id). A slice re-committed after a crash between its
    metrics and checkpoint writes has its rows twice; the copies agree
    on the counts (extraction is deterministic), so either one will do."""
    return spark.read.parquet(f"{out_dir}/metrics").dropDuplicates(["run_id", "part_id"])


def run_totals(spark: "SparkSession", out_dir: str, run_id: str) -> dict[str, int]:
    """Turns, bytes parsed and empty extractions of one run."""
    row = (
        partition_metrics(spark, out_dir)
        .filter(F.col("run_id") == run_id)
        .agg(F.sum("n_turns"), F.sum("bytes_parsed"), F.sum("n_empty"))
        .collect()[0]
    )
    return {
        "turns_processed": int(row[0] or 0),
        "bytes_parsed": int(row[1] or 0),
        "empty_extractions": int(row[2] or 0),
    }


def finish_job(
    spark: "SparkSession", out_dir: str, name: str, metrics: dict,
    owns_session: bool,
) -> None:
    """A batch job's metrics tail: ``metrics`` as one JSON line, written
    to ``<out_dir>/metrics_<name>`` as a one-line text table and
    printed. The write goes through Spark so hdfs://-style outputs work
    too (builtin open() only handles local paths), and overwrite keeps
    a re-submission idempotent. The session is stopped only if the job
    created it — an in-process caller (tests, notebooks) keeps its
    own."""
    line = json.dumps(metrics)
    spark.createDataFrame([(line,)], "v string").coalesce(1).write.mode(
        "overwrite"
    ).text(f"{out_dir}/metrics_{name}")
    print(line)
    if owns_session:
        spark.stop()


def metrics_summary(spark: "SparkSession", out_dir: str) -> "DataFrame":
    """Per-run roll-up of the job's per-partition metrics table:
    totals, throughput percentiles across partitions, and the
    partition-skew ratio (max/median turns per partition) — the number
    that says whether the salted layout is actually balancing."""
    m = partition_metrics(spark, out_dir)
    return m.groupBy("run_id").agg(
        F.count("*").alias("n_partitions"),
        F.sum("n_turns").alias("total_turns"),
        F.sum("bytes_parsed").alias("total_bytes"),
        F.round(
            F.sum("n_empty") / F.greatest(F.sum("n_turns"), F.lit(1)), 6
        ).alias("empty_rate"),
        F.round(F.expr("percentile_approx(turns_per_sec, 0.5)"), 1).alias(
            "p50_partition_tps"
        ),
        F.round(F.expr("percentile_approx(turns_per_sec, 0.95)"), 1).alias(
            "p95_partition_tps"
        ),
        F.round(
            F.max("n_turns")
            / F.greatest(F.expr("percentile_approx(n_turns, 0.5)"), F.lit(1)),
            2,
        ).alias("partition_skew_ratio"),
    )
