"""Checkpointed, resumable extraction job with per-partition lineage
and metrics (north rule: resume at partition granularity).

Layout under ``out_dir`` (plain-parquet sink; the Iceberg MERGE
variant in engine.spark.iceberg is not wired yet):

    results/part_id=K/*.parquet   — extraction output, one dir per
                                    deterministic partition (dynamic
                                    partition overwrite → idempotent)
    checkpoints/part-<uuid>.parquet — append-only (run_id, part_id,
                                    status, n_turns), one file per
                                    committed slice; a partition is
                                    done iff a row exists
    metrics/part-<uuid>.parquet   — per-partition turns/sec, bytes
                                    parsed, empty-extraction rate, one
                                    file per committed slice
    manifests/part-K.json         — lineage manifest per partition
    errors/*.parquet              — malformed input rows with their
                                    reason (pipeline.split_valid)

Commit protocol: each slice costs one Spark job, the partitioned
results write. Its bookkeeping is file I/O on the Spark driver, on
storage the driver can see (as the manifests always were): the per-partition
stats come from one aggregate over the persisted extraction per leg,
and the metrics and checkpoint records are written with pyarrow under
a dot-prefixed temp name, then renamed into place. Spark and pyarrow
both skip dot-prefixed files, so a crash mid-write leaves no partial
record. Order within a slice: results, manifests, metrics, checkpoint
LAST — a crash before the checkpoint rename redoes the slice
(idempotent overwrite), never skips it. The record files keep the
column names and types Spark wrote in earlier versions, so output dirs
holding Spark-written records still resume and read back as one table.
The errors table is written once per run, before its first slice, in
the first leg that finds no checkpoint of the run: if any checkpoint
exists, an earlier leg already wrote the complete errors table, so a
resume leg does not rewrite it. A leg that crashes before its first
checkpoint leaves none, and the next launch rewrites the table.

Resume protocol: the driver reads the completed part_ids of its run
from the checkpoint files and extracts only the rows whose part_id is
still to do. part_id is a pure function of (conv_id, turn_idx) —
pipeline.part_expr — so work assignment is stable across runs and
cluster sizes, and a resumed run's results equal a one-shot run's.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import TYPE_CHECKING

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from engine.spark.pipeline import part_expr, run_extraction, split_valid

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

# independent slices of the partition space per run; each slice is one
# atomic unit of restart
PARTITION_BATCHES = 4

METRICS_SCHEMA = pa.schema([
    ("run_id", pa.string()), ("part_id", pa.int32()),
    ("n_turns", pa.int64()), ("bytes_parsed", pa.int64()),
    ("n_empty", pa.int64()), ("empty_rate", pa.float64()),
    ("turns_per_sec", pa.float64()), ("wall_s", pa.float64()),
])
CHECKPOINT_SCHEMA = pa.schema([
    ("run_id", pa.string()), ("part_id", pa.int32()),
    ("status", pa.string()), ("n_turns", pa.int64()),
])


def _write_records(table_dir: str, schema: pa.Schema, rows: list[dict]) -> None:
    """Append ``rows`` to a record table as one new parquet file: write
    a hidden temp file, then rename it into place atomically."""
    os.makedirs(table_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(table_dir, f".{name}.tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
    os.replace(tmp, os.path.join(table_dir, name))


def _completed_parts(ckpt_dir: str, run_id: str) -> set[int]:
    """part_ids with a ``done`` checkpoint row for ``run_id``, read from
    committed files only: hidden (``.``) and marker (``_``) names are
    skipped, as Spark skips them."""
    if not os.path.isdir(ckpt_dir):
        return set()
    done: set[int] = set()
    for name in os.listdir(ckpt_dir):
        if name.startswith((".", "_")) or not name.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(ckpt_dir, name), columns=["run_id", "part_id", "status"]).to_pydict()
        done.update(
            p for r, p, s in zip(t["run_id"], t["part_id"], t["status"])
            if r == run_id and s == "done"
        )
    return done


def run_checkpointed(
    spark: "SparkSession",
    transcripts: "DataFrame",
    out_dir: str,
    run_id: str = "run-1",
    num_partitions: int | None = None,
    fail_after_batches: int | None = None,
) -> "DataFrame":
    """Run extraction over ``transcripts``, committing results +
    checkpoint rows in ``PARTITION_BATCHES`` independent slices of the
    partition space (each slice = one atomic unit of restart).

    ``fail_after_batches`` injects a crash for the resume test.
    Returns the results DataFrame read back from the sink.
    """
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 2
    results_dir = f"{out_dir}/results"
    ckpt_dir = f"{out_dir}/checkpoints"
    metrics_dir = f"{out_dir}/metrics"
    manifest_dir = f"{out_dir}/manifests"
    os.makedirs(manifest_dir, exist_ok=True)

    # slice commits rely on dynamic partition overwrite (idempotent
    # re-commit of ONLY the touched part_id dirs); static mode would
    # wipe previously committed slices — set it here, not in session
    # factory, so spark-submit sessions are safe too
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    done = _completed_parts(ckpt_dir, run_id)
    todo = [p for p in range(num_partitions) if p not in done]
    if not todo:
        return spark.read.parquet(results_dir)

    # P2: route malformed rows to the errors table instead of dropping;
    # a checkpoint means an earlier leg already wrote the whole table
    transcripts, errors = split_valid(transcripts)
    if not done:
        errors.write.mode("overwrite").parquet(f"{out_dir}/errors")
    else:
        # a resume extracts only the partitions still to do
        transcripts = transcripts.filter(part_expr(num_partitions).isin(todo))

    extracted = run_extraction(transcripts, num_partitions=num_partitions).persist()
    try:
        # one stats job per leg; it also fills the cache the slices read
        stats = {
            r.part_id: r
            for r in extracted.groupBy("part_id")
            .agg(
                F.count("*").alias("n_turns"),
                F.sum("bytes_in").alias("bytes_parsed"),
                F.sum(F.col("is_empty").cast("long")).alias("n_empty"),
                F.sum("proc_us").alias("proc_us"),
            )
            .collect()
        }
        slice_size = max(1, (num_partitions + PARTITION_BATCHES - 1) // PARTITION_BATCHES)
        batches_done = 0
        for lo in range(0, num_partitions, slice_size):
            batch = [p for p in range(lo, min(lo + slice_size, num_partitions)) if p in todo]
            if not batch:
                continue
            if fail_after_batches is not None and batches_done >= fail_after_batches:
                raise RuntimeError("injected failure for resume test")
            t0 = time.time()
            part = extracted.filter(F.col("part_id").isin(batch))
            # dynamic partition overwrite → idempotent re-commit of a slice
            part.write.mode("overwrite").partitionBy("part_id").parquet(results_dir)
            wall_s = time.time() - t0

            metrics_rows = []
            ckpt_rows = []
            for p in batch:
                r = stats.get(p)
                if r is None:
                    # empty partitions still need a checkpoint row
                    ckpt_rows.append({"run_id": run_id, "part_id": p, "status": "done", "n_turns": 0})
                    continue
                n_turns, bytes_parsed, n_empty = int(r.n_turns), int(r.bytes_parsed), int(r.n_empty)
                metrics_rows.append({
                    "run_id": run_id, "part_id": p, "n_turns": n_turns,
                    "bytes_parsed": bytes_parsed, "n_empty": n_empty,
                    "empty_rate": float(n_empty) / max(n_turns, 1),
                    "turns_per_sec": n_turns / max(r.proc_us / 1e6, 1e-9),
                    "wall_s": wall_s,
                })
                ckpt_rows.append({"run_id": run_id, "part_id": p, "status": "done", "n_turns": n_turns})
                manifest = {
                    "run_id": run_id,
                    "part_id": p,
                    "n_turns": n_turns,
                    "bytes_parsed": bytes_parsed,
                    "n_empty": n_empty,
                    "sink": f"{results_dir}/part_id={p}",
                }
                with open(f"{manifest_dir}/part-{p}.json", "w") as fh:
                    json.dump(manifest, fh, sort_keys=True)

            _write_records(metrics_dir, METRICS_SCHEMA, metrics_rows)
            # checkpoint commit LAST: a crash before this line redoes the
            # slice (idempotent overwrite), never skips it
            _write_records(ckpt_dir, CHECKPOINT_SCHEMA, ckpt_rows)
            batches_done += 1
    finally:
        extracted.unpersist()
    return spark.read.parquet(results_dir)
