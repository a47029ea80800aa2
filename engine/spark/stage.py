"""The fused extraction stage, and ``map_batches``, the one Python hop
every engine stage goes through.

This is the single Python hop in the pipeline (SURVEY.md §2.10): each
Arrow batch of turns is transformed by engine.kernel.extract_turn —
the same function that serves as the single-node oracle — so per-turn
equality with the oracle holds by construction. Everything downstream
(aggregation, ranking, joins) stays in native Spark expressions.

The UDF is vectorized at batch granularity (no row-at-a-time Python
UDF registration; regex tables compile once per worker at module
import). Per-row wall time is accumulated into proc_us so the metrics
roll-up (engine.spark.job) can report per-partition throughput.

``map_batches`` keeps the hop in Arrow end to end (no pandas round
trip, so no column is ever cast to pandas' nanosecond timestamps), and
it is the one place that calls ``worker_setup()`` (why, and what it
saves: BENCH/BASELINE.md §4b).
"""

from __future__ import annotations

import sys
import time
from collections.abc import Callable, Iterable, Iterator
from typing import TYPE_CHECKING

from engine.spark.schemas import RESULT_SCHEMA, RESULT_SCHEMA_NARROW

if TYPE_CHECKING:
    import pyarrow as pa
    from pyspark.sql import DataFrame
    from pyspark.sql.types import StructType

_KEY_COLS = ("conv_id", "turn_idx", "role", "tool", "ts")


def worker_setup() -> None:
    """Drop the zipimporters from ``sys.path_importer_cache`` so Spark's
    per-task ``importlib.invalidate_caches()`` stops re-reading each
    zip's directory (workers import pyspark from ``pyspark.zip``). The
    trim is process-wide, so every later task on this worker, of any
    hop, skips the re-reads.

    The cache is only a cache: an evicted importer is rebuilt on demand
    from ``zipimport``'s directory cache, without re-reading the zip.
    That assumes no zip on the path is rewritten in place under a live
    worker; Spark ships added py-files under new names."""
    import zipimport

    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]


def map_batches(
    df: "DataFrame",
    fn: Callable[["pa.RecordBatch"], list[dict]],
    schema: "StructType | str",
    keep: Iterable[str] = (),
) -> "DataFrame":
    """One Python hop over Arrow batches: ``fn`` maps each input
    ``pa.RecordBatch`` to a list of output records (dicts), encoded
    straight to Arrow under ``schema``'s non-``keep`` fields (keys
    outside them are ignored). The ``keep`` columns of the input batch
    lead the output unconverted, so ``fn`` must then return exactly one
    record per input row, and ``schema`` must list ``keep`` first."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    keep = tuple(keep)
    if tuple(schema.names[: len(keep)]) != keep:
        raise ValueError(f"schema must start with the keep columns {keep}")
    out_schema = to_arrow_schema(T.StructType(schema.fields[len(keep):]))

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        worker_setup()
        import pyarrow as pa

        for batch in batches:
            out = pa.RecordBatch.from_pylist(fn(batch), schema=out_schema)
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in keep] + out.columns,
                names=[*keep, *out_schema.names],
            )

    return df.mapInArrow(run, schema)


def _extract_batch(batch: "pa.RecordBatch") -> list[dict]:
    # kernel import inside the worker: compiled regex tables are cached
    # at module level, shared by every batch this worker processes
    from engine.kernel.transcript import extract_turn

    t0 = time.perf_counter_ns()
    records = [extract_turn(t) for t in batch.column("text").to_pylist()]
    share = (time.perf_counter_ns() - t0) // 1000 // max(len(records), 1)
    for r in records:
        r["proc_us"] = share
    return records


def extract_turns(df: "DataFrame", span_content: bool = True) -> "DataFrame":
    """Apply the fused extraction stage; input must have TRANSCRIPT_SCHEMA
    columns (extra columns are dropped). span_content=False ships
    offset-only spans (smaller Arrow/shuffle payload at identical
    information content; reconstruction in pipeline.with_span_content):
    the narrow span type has no ``content`` field, so the Arrow encode
    leaves it out."""
    schema = RESULT_SCHEMA if span_content else RESULT_SCHEMA_NARROW
    return map_batches(
        df.select(*_KEY_COLS, "text"), _extract_batch, schema, keep=_KEY_COLS
    )
