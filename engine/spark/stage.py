"""The fused extraction stage: one mapInPandas over Arrow batches.

This is the single Python hop in the pipeline (SURVEY.md §2.10): each
Arrow batch of turns is transformed by engine.kernel.extract_turn —
the same function that serves as the single-node oracle — so per-turn
equality with the oracle holds by construction. Everything downstream
(aggregation, ranking, joins) stays in native Spark expressions.

The UDF is vectorized at batch granularity (no row-at-a-time Python
UDF registration; regex tables compile once per worker at module
import). Per-row wall time is accumulated into proc_us so the metrics
roll-up (engine.spark.job) can report per-partition throughput.

Per-task worker cost: every mapInPandas function in the engine calls
``worker_setup()`` first (why, and what it saves: BENCH/BASELINE.md
§4b).
"""

from __future__ import annotations

import sys
import time
from collections.abc import Iterator
from typing import TYPE_CHECKING

from engine.spark.schemas import RESULT_SCHEMA, RESULT_SCHEMA_NARROW

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql import DataFrame

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


def _make_extract_batches(span_content: bool):
    def _extract_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        worker_setup()
        import pandas as pd

        # kernel import inside the worker: compiled regex tables are cached
        # at module level, shared by every batch this worker processes
        from engine.kernel.transcript import extract_turn

        for pdf in batches:
            t0 = time.perf_counter_ns()
            records = [extract_turn(t) for t in pdf["text"].tolist()]
            elapsed_us = (time.perf_counter_ns() - t0) // 1000
            n = max(len(records), 1)
            share = elapsed_us // n
            if not span_content:
                # narrow mode: span content duplicates cleaned_text slices;
                # drop it before the Arrow encode (reconstructable natively
                # via pipeline.with_span_content)
                for r in records:
                    r["spans"] = [
                        {k: v for k, v in s.items() if k != "content"}
                        for s in r["spans"]
                    ]
            out = {col: pdf[col] for col in _KEY_COLS}
            first = records[0] if records else {}
            for key in first:
                out[key] = [r[key] for r in records]
            res = pd.DataFrame(out) if records else pd.DataFrame(
                columns=[f.name for f in RESULT_SCHEMA.fields]
            )
            if records:
                res["proc_us"] = share
            yield res[[f.name for f in RESULT_SCHEMA.fields]] if records else res

    return _extract_batches


def extract_turns(df: "DataFrame", span_content: bool = True) -> "DataFrame":
    """Apply the fused extraction stage; input must have TRANSCRIPT_SCHEMA
    columns (extra columns are dropped). span_content=False ships
    offset-only spans (smaller Arrow/shuffle payload at identical
    information content; parity-tested reconstruction in pipeline)."""
    schema = RESULT_SCHEMA if span_content else RESULT_SCHEMA_NARROW
    return df.select(*_KEY_COLS, "text").mapInPandas(
        _make_extract_batches(span_content), schema
    )
