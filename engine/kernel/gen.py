"""Deterministic synthetic transcript generator.

Produces multi-turn conversation/agent transcripts with the exact input
shape from BASELINE.json input_hint: (conv_id, turn_idx, role, text,
tool, ts). Content is seeded per (conv_id, turn_idx) via blake2b so any
worker can generate any row independently of partitioning — the Spark
synthesizer (engine.spark.transcripts) fans this out over Arrow batches.

Payload mix per turn (deterministic): plain prose with PDF-ish
artifacts (ligatures, page numbers, repeated headers, curly quotes),
HTML pages with nav/footer boilerplate around real content, %PDFBOX1
layout payloads (multi-page, two-column, scrambled box order, repeated
positional headers/footers), invoice-shaped and resume-shaped
documents. Fixture constants echo the reference's sample generator
(/root/reference/samples/generate_samples.py:15-631) in *content
shape* (an invoice with line items summing to a known total, resumes
with contacts/skills) without copying its code.
"""

from __future__ import annotations

import hashlib
import random
from typing import Any

from engine.kernel import pdfish

EPOCH_US = 1735689600_000_000  # 2025-01-01T00:00:00Z in microseconds

_WORDS = (
    "the quick analysis shows that distributed systems require careful "
    "partitioning of state and the shuffle boundaries dominate cost when "
    "data volume grows beyond memory because every exchange writes sorted "
    "runs to local disk and readers fetch merged segments over the network "
    "while operators pipeline within a stage and barriers form between "
    "stages so the planner tries to collapse narrow transformations into "
    "a single pass over each partition which keeps throughput high"
).split()

# FIXTURES.md §1: tool on a minority of turns, named like agent tools
_TOOLS = ("pdf_reader", "web_fetch", "search", "sql", "none", "none", "none")

# FIXTURES.md §1: role cycle
_ROLES = ("user", "assistant", "tool", "system")


def _rng(conv_id: str, turn_idx: int, salt: str = "") -> random.Random:
    key = f"{conv_id}|{turn_idx}|{salt}".encode()
    seed = int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "big")
    return random.Random(seed)


def _sentence(rng: random.Random, n_words: int) -> str:
    words = [rng.choice(_WORDS) for _ in range(n_words)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph(rng: random.Random, n_sentences: int) -> str:
    return " ".join(_sentence(rng, rng.randint(8, 16)) for _ in range(n_sentences))


def _plain_doc(rng: random.Random) -> str:
    """Prose with the artifacts T1–T5 must clean."""
    header = "ACME Research Group - Conﬁdential"  # ligature + dash artifacts
    parts: list[str] = []
    n_pages = rng.randint(2, 4)
    for page in range(1, n_pages + 1):
        parts.append(header)
        for _ in range(rng.randint(2, 4)):
            p = _paragraph(rng, rng.randint(2, 4))
            if rng.random() < 0.3:
                p = p.replace(" the ", "  the\t", 1)  # messy whitespace
            if rng.random() < 0.3:
                p = "“" + p + "”"  # curly quotes
            parts.append(p)
        parts.append(f"Page {page} of {n_pages}")
    return "\n".join(parts)


def _invoice_doc(rng: random.Random) -> str:
    qty = rng.randint(1, 9)
    unit = round(rng.uniform(10, 900), 2)
    amount = round(qty * unit, 2)
    qty2 = rng.randint(1, 5)
    unit2 = round(rng.uniform(50, 400), 2)
    amount2 = round(qty2 * unit2, 2)
    subtotal = round(amount + amount2, 2)
    tax = round(subtotal * 0.085, 2)
    total = round(subtotal + tax, 2)
    inv_no = f"INV-{rng.randint(2023, 2026)}-{rng.randint(1, 9999):04d}"
    date_styles = (
        lambda: f"{rng.randint(1, 12)}/{rng.randint(1, 28)}/{rng.randint(2023, 2026)}",
        lambda: f"{rng.randint(2023, 2026)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
        lambda: f"March {rng.randint(1, 28)}, {rng.randint(2023, 2026)}",
        lambda: f"{rng.randint(1, 28)}.{rng.randint(1, 12)}.{rng.randint(2023, 2026)}",
    )
    inv_date = rng.choice(date_styles)()
    due_date = rng.choice(date_styles)()
    return "\n".join(
        [
            "INVOICE",
            f"Invoice Number: {inv_no}",
            f"Invoice Date: {inv_date}",
            f"Due Date: {due_date}",
            "Vendor: TechCorp Solutions Inc.",
            "Bill To: Example Customer LLC",
            "",
            "Description\tQty\tUnit Price\tAmount",
            f"Consulting services\t{qty}\t${unit:,.2f}\t${amount:,.2f}",
            f"Cloud infrastructure\t{qty2}\t${unit2:,.2f}\t${amount2:,.2f}",
            "",
            f"Subtotal: ${subtotal:,.2f}",
            f"Tax: ${tax:,.2f}",
            f"Total Amount: ${total:,.2f}",
            "Payment Terms: Net 30",
        ]
    )


def _resume_doc(rng: random.Random) -> str:
    first = rng.choice(("Alex", "Jordan", "Sam", "Taylor", "Morgan", "Casey"))
    last = rng.choice(("Chen", "Patel", "Garcia", "Kim", "Okafor", "Novak"))
    skills = rng.sample(
        ["Python", "Spark", "Kubernetes", "PostgreSQL", "React", "Terraform",
         "Docker", "AWS", "TypeScript", "GraphQL"],
        k=rng.randint(4, 7),
    )
    years = rng.randint(1, 15)
    return "\n".join(
        [
            f"{first} {last}",
            f"Email: {first.lower()}.{last.lower()}@example.com",
            f"Phone: +1 {rng.randint(200, 989)}-{rng.randint(200, 989)}-{rng.randint(1000, 9999)}",
            f"linkedin.com/in/{first.lower()}{last.lower()}",
            "",
            "Professional Summary",
            f"Engineer with {years} years of experience building data platforms.",
            "",
            "Work Experience",
            f"Senior Engineer, DataWorks — 2019 - present",
            _sentence(rng, 12),
            "",
            "Education",
            "B.S. Computer Science, State University, GPA: 3.7",
            "",
            "Technical Skills: " + ", ".join(skills),
        ]
    )


def _html_doc(rng: random.Random) -> str:
    paras = [_paragraph(rng, rng.randint(3, 5)) for _ in range(rng.randint(2, 4))]
    nav = '<a href="/">Home</a> <a href="/news">News</a> <a href="/about">About</a>'
    related = "".join(
        f'<li><a href="/p/{i}">{_sentence(rng, 4)}</a></li>' for i in range(4)
    )
    body = "".join(f"<p>{p}</p>" for p in paras)
    return (
        "<html><head><title>doc</title><style>p{margin:0}</style>"
        "<script>var x=1;</script></head><body>"
        f'<div class="nav">{nav}</div>'
        f'<div class="article">{body}</div>'
        f'<div class="related"><ul>{related}</ul></div>'
        f'<div class="footer"><a href="/tos">Terms</a> © 2025 Example</div>'
        "</body></html>"
    )


def layout_text_to_boxes(
    text: str, rng: random.Random, two_col: bool
) -> tuple[list[pdfish.Box], str]:
    """Place text lines on 3 pages (with repeated header/footer boxes),
    optionally in two columns, and return (scrambled boxes, ground truth).

    Ground truth is the text exactly as pdfish.reconstruct_text must
    reassemble it: header/footer stripped, left column before right,
    pages joined with a blank line.
    """
    lines = [ln for ln in text.split("\n") if ln.strip()]
    per_page = max(1, (len(lines) + 2) // 3)
    pages = [lines[i : i + per_page] for i in range(0, len(lines), per_page)]
    while len(pages) < 3:
        pages.append([])

    boxes: list[pdfish.Box] = []
    truth_pages: list[str] = []
    for pg, pg_lines in enumerate(pages, start=1):
        boxes.append(pdfish.Box(pg, 50.0, 20.0, 250.0, 30.0, "Quarterly Report 2025"))
        boxes.append(pdfish.Box(pg, 50.0, 765.0, 150.0, 775.0, f"page {pg}"))
        if not pg_lines:
            truth_pages.append("")
            continue
        if two_col and len(pg_lines) >= 4:
            half = (len(pg_lines) + 1) // 2
            cols = [(pg_lines[:half], 50.0, 280.0), (pg_lines[half:], 340.0, 570.0)]
            truth = "\n".join(pg_lines[:half] + pg_lines[half:])
        else:
            cols = [(pg_lines, 50.0, 560.0)]
            truth = "\n".join(pg_lines)
        for col_lines, x_start, x_max in cols:
            y = 90.0
            for ln in col_lines:
                x = x_start
                for tok in ln.split(" "):
                    w = max(4.0, len(tok) * 6.0)
                    if x + w > x_max:  # clamp: tokens must stay in-column
                        w = max(4.0, x_max - x - 1.0)
                    boxes.append(pdfish.Box(pg, x, y, x + w, y + 10.0, tok))
                    x += w + 4.0
                y += 14.0
        truth_pages.append(truth)
    rng.shuffle(boxes)
    truth_text = "\n\n".join(p for p in truth_pages if p).strip()
    return boxes, truth_text


def _pdfbox_doc(rng: random.Random) -> str:
    # short wrapped lines so two-column boxes fit their column width
    lines = []
    for _ in range(rng.randint(8, 14)):
        lines.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(3, 5))))
    text = "\n".join(lines)
    boxes, _ = layout_text_to_boxes(text, rng, two_col=rng.random() < 0.5)
    return pdfish.serialize_boxes(boxes)


_KINDS = ("plain", "html", "pdfbox", "invoice", "resume", "plain", "html")


def make_turn(conv_id: str, turn_idx: int) -> dict[str, Any]:
    """Deterministic (role, text, tool, ts_us) for one turn."""
    rng = _rng(conv_id, turn_idx)
    kind = rng.choice(_KINDS)
    if kind == "plain":
        text = _plain_doc(rng)
    elif kind == "html":
        text = _html_doc(rng)
    elif kind == "pdfbox":
        text = _pdfbox_doc(rng)
    elif kind == "invoice":
        text = _invoice_doc(rng)
    else:
        text = _resume_doc(rng)
    role = _ROLES[turn_idx % len(_ROLES)]
    tool = rng.choice(_TOOLS)
    # consecutive turn pairs share a timestamp (FIXTURES.md §1: duplicate
    # ts with ties broken by turn_idx in the stable-order window)
    ts_us = EPOCH_US + (hash_u64(conv_id) % 10_000_000) * 1_000_000 + (turn_idx // 2) * 30_000_000
    return {"role": role, "text": text, "tool": None if tool == "none" else tool, "ts_us": ts_us}


def hash_u64(s: str) -> int:
    return int.from_bytes(hashlib.blake2b(s.encode(), digest_size=8).digest(), "big")


def turns_for_conv(conv_index: int, scale_turns: int) -> int:
    """Heavy-tailed turn count: most conversations are short, a handful
    are mega-threads (the skew the salted partitioning must absorb)."""
    r = _rng(f"conv{conv_index}", -1).random()
    if conv_index % 997 == 0:
        return scale_turns * 40  # mega-thread
    if r < 0.7:
        return max(2, int(scale_turns * 0.5))
    if r < 0.95:
        return scale_turns
    return scale_turns * 4
