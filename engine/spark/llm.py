"""Optional LLM field-extraction enrichment stage (reference T11).

The reference's centerpiece stage sends each document's (truncated)
text through a prompt template to a remote LLM and parses the JSON
reply (/root/reference/backend/app/services/llm/prompts.py:42-433,
orchestrator.py:404-428, client.py:548-632). It is deliberately OUT of
this engine's deterministic correctness gate (SURVEY.md §7.3.6): the
rule-based extractors (engine.kernel.fields) produce the gated
fields_json. This module provides the capability as an optional,
pluggable batch-inference stage:

- one Arrow-batched hop, ``stage.map_batches`` (never per-row HTTP
  from the driver);
- the client is a plain callable ``list[str] -> list[str]`` resolved
  per executor (lazy, picklable factory) — wrap any HTTP endpoint
  there. The default is a deterministic fake that echoes the
  rule-based extraction, so the stage is testable offline and the
  pipeline shape (schema, batching, truncation, parse/repair tiers)
  is real;
- replies go through the kernel's 4-tier JSON parse/repair
  (engine.kernel.jsonrepair, reference parser.py:36-224) emitting
  ``llm_json`` + ``llm_was_repaired``;
- retries belong to the client layer only (reference client.py:574-632
  note: "retries only in client layer, not orchestrator"); in Spark
  the task retry (`spark.task.maxFailures`) is the single outer retry,
  so the client must be idempotent.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from typing import TYPE_CHECKING

from pyspark.sql import types as T

from engine.spark.stage import map_batches

if TYPE_CHECKING:
    import pyarrow as pa
    from pyspark.sql import DataFrame

# prompt text cap (reference prompts.py:394,407-410)
MAX_PROMPT_TEXT_CHARS = 8000

_TEMPLATES = {
    # condensed re-derivations of prompts.py:42-433 (invoice :42-, resume,
    # generic): instruction + JSON-only directive + truncated document
    "invoice": (
        "Extract the invoice fields (invoice_number, invoice_date, due_date, "
        "vendor_name, subtotal, tax_amount, total_amount, currency, line_items) "
        "from the document below. Reply with JSON only.\n\n{body}"
    ),
    "resume": (
        "Extract the resume fields (candidate_name, email, phone, skills, "
        "experience, education) from the document below. Reply with JSON only.\n\n{body}"
    ),
    "generic": (
        "Extract the salient structured fields from the document below. "
        "Reply with JSON only.\n\n{body}"
    ),
}


def build_prompt(text: str, doc_type: str) -> str:
    """Template per detected type, text truncated to 8000 chars
    (prompts.py:391-412)."""
    tpl = _TEMPLATES.get(doc_type, _TEMPLATES["generic"])
    return tpl.format(body=(text or "")[:MAX_PROMPT_TEXT_CHARS])


def fake_client_factory() -> Callable[[list[str]], list[str]]:
    """Deterministic offline 'model': extracts with the kernel's
    rule-based extractors from the prompt body — stable replies, no
    network, exercises the full parse path."""
    from engine.kernel.detector import detect_document_type
    from engine.kernel.fields import extract_fields

    def client(prompts: list[str]) -> list[str]:
        out = []
        for p in prompts:
            body = p.split("\n\n", 1)[-1]
            dt = detect_document_type(body)["document_type"]
            out.append(json.dumps(extract_fields(body, dt), sort_keys=True))
        return out

    return client


LLM_FIELDS = [
    T.StructField("llm_json", T.StringType()),
    T.StructField("llm_was_repaired", T.BooleanType()),
]


def llm_enrich(
    results: "DataFrame",
    client_factory: Callable[[], Callable[[list[str]], list[str]]] | None = None,
    text_col: str = "cleaned_text",
    type_col: str = "doc_type",
    batch_rows: int = 64,
) -> "DataFrame":
    """Add llm_json / llm_was_repaired via one Arrow-batched hop.

    ``client_factory`` is called once per task, on its first batch
    (lazy init of connections/clients, mirroring the reference's client
    singleton, client.py:636-645); it must be picklable. ``batch_rows`` caps the
    per-call fan-in so one slow remote batch never pins a whole Arrow
    batch's latency.
    """
    factory = client_factory or fake_client_factory
    schema = T.StructType(list(results.schema.fields) + LLM_FIELDS)
    client = None

    def run(batch: "pa.RecordBatch") -> list[dict]:
        nonlocal client
        from engine.kernel.jsonrepair import parse_json_loose

        if client is None:
            client = factory()
        prompts = [
            build_prompt(t, d)
            for t, d in zip(
                batch.column(text_col).to_pylist(), batch.column(type_col).to_pylist()
            )
        ]
        raw: list[str] = []
        for i in range(0, len(prompts), batch_rows):
            chunk = prompts[i : i + batch_rows]
            replies = client(chunk)
            if len(replies) != len(chunk):
                # surface the misbehaving client call precisely: a
                # dropped/padded reply would otherwise either crash
                # opaquely in the Arrow encode or silently misalign rows
                raise ValueError(
                    f"LLM client returned {len(replies)} replies for "
                    f"{len(chunk)} prompts (sub-batch at offset {i})"
                )
            raw.extend(replies)
        return [
            {
                "llm_json": json.dumps(data, sort_keys=True) if data is not None else None,
                "llm_was_repaired": bool(rep),
            }
            for data, rep, _strat in map(parse_json_loose, raw)
        ]

    return map_batches(results, run, schema, keep=results.columns)
