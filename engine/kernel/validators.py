"""Field-format validators and rule-based candidate analysis
(SURVEY.md §2.2 P1/P4, §2.4 A8/A9).

Re-derivation of the reference validator and analyzer rules
(/root/reference/backend/app/services/extraction/validator.py:261-407,
536-562; /root/reference/backend/app/services/candidate/analyzer.py:
264-349; /root/reference/backend/app/schemas/resume.py:399-412;
/root/reference/backend/app/services/pdf/extractor.py:157-206).
Date-relative checks take an explicit ``as_of`` date so results are
deterministic (SURVEY.md §7.3.2).
"""

from __future__ import annotations

import re
from datetime import date, timedelta
from typing import Any

VALID_CURRENCIES = frozenset(
    "USD EUR GBP JPY INR RUB BRL CAD AUD KRW ILS THB PHP PLN SEK CHF PKR "
    "CNY NOK DKK".split()
)

_INVOICE_NO = re.compile(r"^[A-Za-z0-9\-_/]+$")

# frozen "today" for deterministic date-window checks
DEFAULT_AS_OF = date(2026, 1, 1)


def check_invoice_number(value: Any) -> list[str]:
    """P4: shape + length window (validator.py:261-308)."""
    issues: list[str] = []
    if value is None or value == "":
        return ["missing"]
    s = str(value)
    if not _INVOICE_NO.match(s):
        issues.append("bad_format")
    if not (2 <= len(s) <= 50):
        issues.append("bad_length")
    return issues


def check_invoice_date(value: Any, as_of: date = DEFAULT_AS_OF) -> list[str]:
    """P4: not in the future, not older than 5 years
    (validator.py:310-353)."""
    if not value:
        return ["missing"]
    try:
        y, m, d = (int(x) for x in str(value).split("-"))
        dt = date(y, m, d)
    except (ValueError, TypeError):
        return ["unparseable"]
    issues: list[str] = []
    if dt > as_of:
        issues.append("future_date")
    if dt < as_of - timedelta(days=5 * 365):
        issues.append("too_old")
    return issues


def check_amount(value: Any) -> list[str]:
    """P4: numeric, >0, sane ceiling (validator.py:355-407)."""
    if value is None:
        return ["missing"]
    try:
        amount = float(value)
    except (ValueError, TypeError):
        return ["not_numeric"]
    issues: list[str] = []
    if amount < 0:
        issues.append("negative")
    elif amount == 0:
        issues.append("zero")
    if amount > 10_000_000:
        issues.append("implausibly_large")
    return issues


def check_currency(value: Any) -> list[str]:
    """P4: 3-letter allowlist (validator.py:536-562)."""
    if not value:
        return ["missing"]
    return [] if str(value).upper() in VALID_CURRENCIES else ["unknown_code"]


def scanned_like(
    pages_processed: int,
    total_chars: int,
    pages_with_text: int,
    first_page_image_coverage: float = 0.0,
) -> bool:
    """P1: scanned-document heuristics (extractor.py:157-206) —
    avg chars/page < 50; text coverage < 0.3; dominant first-page
    image (>80% area) with avg chars < 200."""
    avg_chars = total_chars / max(pages_processed, 1)
    if avg_chars < 50:
        return True
    if pages_with_text / max(pages_processed, 1) < 0.3:
        return True
    if first_page_image_coverage > 0.8 and avg_chars < 200:
        return True
    return False


# ---------------- A8: rule-based red flags over experience arrays ----


def red_flags(experience: list[dict[str, Any]], as_of_years: tuple[str, ...] = ("2024", "2025", "2026")) -> list[str]:
    """A8 (analyzer.py:264-349): job-hopping (>=2 short non-current,
    non-intern stints; >=3 → high), low average tenure over >=4 past
    jobs, and a stale most-recent end_date."""
    flags: list[str] = []
    short_stints = 0
    for job in experience:
        months = job.get("duration_months")
        if job.get("is_current") or job.get("is_internship"):
            continue
        if months is not None and 0 < months < 12:
            short_stints += 1
    if short_stints >= 3:
        flags.append("job_hopping_high")
    elif short_stints >= 2:
        flags.append("job_hopping")

    past = [j for j in experience if not j.get("is_current")]
    tenures = [j.get("duration_months") for j in past if j.get("duration_months")]
    if len(past) >= 4 and tenures and sum(tenures) / len(tenures) < 18:
        flags.append("low_avg_tenure")

    if experience:
        latest = experience[0]  # most recent first (resume.py:384-397)
        end = str(latest.get("end_date") or "")
        if not latest.get("is_current") and not any(y in end for y in as_of_years):
            flags.append("employment_gap")
    return flags


def total_experience_years(experience: list[dict[str, Any]]) -> float:
    """A9 (resume.py:399-412): sum of duration_months / 12, 1 dp."""
    months = sum(j.get("duration_months") or 0 for j in experience)
    return round(months / 12, 1)
