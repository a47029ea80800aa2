"""Deterministic transform kernel (single-node oracle).

Every function here is a from-scratch re-derivation of the semantics
documented in SURVEY.md §2 with file:line citations to the reference.
No code is copied; behavior is matched so the Spark stage (which calls
this same module inside its one Arrow-batched hop, ``mapInArrow``) is
per-turn equal to the oracle by construction and verified by the
golden test suite.
"""

from engine.kernel.textclean import clean_text, quality_metrics, assess_quality
from engine.kernel.chunker import estimate_tokens, chunk_text
from engine.kernel.detector import detect_document_type
from engine.kernel.jsonrepair import parse_json_loose
from engine.kernel.normalize import (
    parse_date,
    parse_amount,
    detect_currency,
    normalize_line_items,
    normalize_line_item_currencies,
    validate_amounts,
    clean_extracted_data,
    post_process_invoice,
)
from engine.kernel.transcript import extract_turn

__all__ = [
    "clean_text",
    "quality_metrics",
    "assess_quality",
    "estimate_tokens",
    "chunk_text",
    "detect_document_type",
    "parse_json_loose",
    "parse_date",
    "parse_amount",
    "detect_currency",
    "normalize_line_items",
    "normalize_line_item_currencies",
    "validate_amounts",
    "clean_extracted_data",
    "post_process_invoice",
    "extract_turn",
]
