"""Fused per-turn extraction kernel — the single-node oracle.

One call = one transcript turn = one reference "request". Mirrors the
reference orchestrator's stage order
(/root/reference/backend/app/services/extraction/orchestrator.py:167-235):
payload parse (HTML boilerplate strip / PDF-layout reconstruction /
passthrough) → clean → chunk → detect type → rule-based field extract
(deterministic T11 stand-in) → post-process/validate → confidence.

The Spark stage (engine.spark.stage) calls exactly this function per
row inside an Arrow batch, so per-turn equality with this oracle
holds by construction and is verified by tests/test_spark_pipeline.py.
"""

from __future__ import annotations

import json
from typing import Any

from engine.kernel import chunker, detector, fields, html, normalize, pdfish, textclean

# orchestrator.py:106-110
REQUIRED_FIELDS: dict[str, list[str]] = {
    "invoice": ["vendor_name", "invoice_number", "invoice_date", "total_amount"],
    "resume": ["candidate_name", "email", "phone"],
    "unknown": [],
}


def classify_payload(text: str) -> str:
    if pdfish.is_pdfbox_payload(text):
        return "pdfbox"
    lowered = text[:512].lower()
    if "<html" in lowered or "<body" in lowered or "<div" in lowered or "<p>" in lowered:
        return "html"
    return "plain"


def extract_turn(
    text: str,
    max_tokens: int = 3000,
    overlap_tokens: int = 100,
) -> dict[str, Any]:
    """Full deterministic extraction for one turn; returns a flat record."""
    if text is None:
        text = ""
    payload_kind = classify_payload(text)
    if payload_kind == "pdfbox":
        main_text = pdfish.reconstruct_text(text)
        pages, chars, pages_with_text = pdfish.page_stats(text)
    elif payload_kind == "html":
        main_text = html.extract_main_text(text)
        pages, chars, pages_with_text = 1, len(main_text), 1 if main_text.strip() else 0
    else:
        main_text = text
        pages, chars, pages_with_text = 1, len(main_text), 1 if main_text.strip() else 0

    cleaned, metrics = textclean.clean_text(main_text)
    quality = textclean.assess_quality(metrics)
    spans = chunker.chunk_text(cleaned, max_tokens=max_tokens, overlap_tokens=overlap_tokens)
    detection = detector.detect_document_type(cleaned)
    doc_type = detection["document_type"]

    raw_fields = fields.extract_fields(cleaned, doc_type)
    if doc_type == "invoice":
        cleaned_fields = normalize.clean_extracted_data(raw_fields, "invoice")
        post = normalize.post_process_invoice(cleaned_fields, cleaned)
        data = post["data"]
        warnings = post["warnings"]
        corrections = post["corrections"]
    else:
        data = normalize.clean_extracted_data(raw_fields, doc_type)
        warnings = []
        corrections = []

    required = REQUIRED_FIELDS.get(doc_type, [])
    missing = [f for f in required if data.get(f) in (None, "")]
    confidence = scoring_confidence(data, required, detection["confidence"])

    from engine.kernel.validators import scanned_like

    return {
        "payload_kind": payload_kind,
        "is_scannedlike": scanned_like(pages, chars, pages_with_text),
        "cleaned_text": cleaned,
        "spans": spans,
        "doc_type": doc_type,
        "detect_confidence": detection["confidence"],
        "score_invoice": detection["scores"]["invoice"],
        "score_resume": detection["scores"]["resume"],
        "matched_keywords": detection["matched_keywords"],
        "matched_patterns": detection["matched_patterns"],
        "original_length": metrics["original_length"],
        "cleaned_length": metrics["cleaned_length"],
        "reduction_ratio": metrics["reduction_ratio"],
        "line_count": metrics["line_count"],
        "avg_line_length": metrics["avg_line_length"],
        "has_structured_data": metrics["has_structured_data"],
        "noise_ratio": metrics["noise_ratio"],
        "quality_score": quality["score"],
        "quality": quality["quality"],
        "fields_json": json.dumps(data, sort_keys=True, ensure_ascii=False, default=str),
        "missing_fields": missing,
        "warnings": warnings,
        "corrections": corrections,
        "overall_confidence": confidence,
        "is_empty": len(cleaned) == 0,
        "bytes_in": len(text.encode("utf-8")),
        "n_chunks": len(spans),
        "estimated_tokens": chunker.estimate_tokens(cleaned) if cleaned else 0,
    }


def scoring_confidence(data: dict[str, Any], required: list[str], detect_conf: float) -> float:
    from engine.kernel.scoring import field_confidence

    return field_confidence(data, required, detect_conf)["overall"]
