"""Distributed deterministic transcript synthesis.

Two sources for the (conv_id, turn_idx, role, text, tool, ts) table:

1. ``synthesize_transcripts`` — pure generator scale-out: spark.range
   over conversation indices, one Arrow-batched hop expanding each conversation
   into its turns via engine.kernel.gen (seeded per (conv_id,
   turn_idx), so output is identical regardless of partitioning or
   parallelism). Includes deterministic mega-thread skew.

2. ``transcripts_from_documents`` — derives turns from the driver's
   documents.parquet: each document becomes a conversation whose turns
   are its paragraphs (deterministic split), exercising the pipeline
   against external text.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from engine.spark.schemas import TRANSCRIPT_SCHEMA
from engine.spark.stage import map_batches

if TYPE_CHECKING:
    import pyarrow as pa
    from pyspark.sql import DataFrame, SparkSession


def synthesize_transcripts(
    spark: "SparkSession",
    n_convs: int,
    scale_turns: int = 8,
    parallelism: int | None = None,
    shuffle_rows: bool = False,
) -> "DataFrame":
    """Deterministic synthetic transcript table with heavy-tailed skew.

    shuffle_rows=True scatters rows by hash(conv_id, turn_idx) so the
    on-disk/DAG order is NOT turn order (FIXTURES.md §1) — consumers
    must rely on the stable-order window, never implicit order.
    """
    parallelism = parallelism or spark.sparkContext.defaultParallelism

    def expand(batch: "pa.RecordBatch") -> list[dict]:
        from engine.kernel.gen import make_turn, turns_for_conv

        rows = []
        for conv_index in batch.column("id").to_pylist():
            conv_id = f"conv-{conv_index:09d}"
            for turn_idx in range(turns_for_conv(conv_index, scale_turns)):
                t = make_turn(conv_id, turn_idx)
                rows.append({"conv_id": conv_id, "turn_idx": turn_idx, "ts": t["ts_us"], **t})
        return rows

    out = map_batches(
        spark.range(0, n_convs, 1, parallelism), expand,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    if shuffle_rows:
        out = out.repartition(parallelism, F.xxhash64("conv_id", "turn_idx"))
    return out


def transcripts_from_documents(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Turn the driver's documents table into transcripts: one
    conversation per document, one turn per paragraph (native split —
    no Python), roles alternating user/assistant."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    paras = docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("conv_id"),
        F.posexplode(F.split(F.col("text"), r"\n\n+")).alias("turn_idx", "text"),
    )
    return paras.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.when(F.col("turn_idx") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_micros(
            F.lit(1735689600_000_000)
            + F.pmod(F.xxhash64("conv_id"), F.lit(10_000_000)) * 1_000_000
            + F.col("turn_idx").cast("long") * 30_000_000
        ).alias("ts"),
    )


def transcripts_from_jsonl(
    spark: "SparkSession", path: str
) -> tuple["DataFrame", "DataFrame"]:
    """JSONL transcript source — the wild-format ingestion path (one
    turn object per line, ISO-8601 ``ts``). Schema-ENFORCED read, not
    inference: at 100 TB a schema-inference pass is a full extra scan,
    and silent type drift (a producer emitting turn_idx as a string)
    must surface as a routed error row, not a corrupted column.

    Returns ``(valid, errors)``, the source-level twin of
    pipeline.split_valid's validate-then-route contract: PERMISSIVE
    mode captures every malformed or schema-violating line verbatim in
    ``_corrupt_record``; ``errors`` carries (raw_line) for the errors
    table, ``valid`` is exactly TRANSCRIPT_SCHEMA. A null conv_id or
    turn_idx (present but wrong-typed field) also routes to errors —
    the downstream stable-order window keys on both. Wrong-typed lines
    arrive verbatim (PERMISSIVE puts the whole line in the corrupt
    column); parse-clean lines with a null key are reconstructed via
    to_json (null fields omitted — the parser consumed the original).
    """
    from pyspark.sql import types as T

    read_schema = T.StructType(
        list(TRANSCRIPT_SCHEMA.fields)
        + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    raw = (
        spark.read.schema(read_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    # No cache: each returned frame scans the (compressed) source once.
    # Spark's corrupt-column query restriction only bites when a query
    # references ONLY _corrupt_record; both splits here reference data
    # columns too (tested). Caching 100 TB of raw input to save the
    # errors-side scan would cost far more than the scan.
    bad_shape = F.col("_corrupt_record").isNotNull()
    bad_keys = F.col("conv_id").isNull() | F.col("turn_idx").isNull()
    errors = raw.filter(bad_shape | bad_keys).select(
        F.coalesce(
            F.col("_corrupt_record"),
            F.to_json(F.struct(*[f.name for f in TRANSCRIPT_SCHEMA.fields])),
        ).alias("raw_line")
    )
    valid = raw.filter(~bad_shape & ~bad_keys).select(
        *[f.name for f in TRANSCRIPT_SCHEMA.fields]
    )
    return valid, errors
