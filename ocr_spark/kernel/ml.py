"""ML-enhanced extractor family: pattern re-extraction, historical VAT
imputation, and consistency validation on top of the basic family.

Reproduces /root/reference/src/extraction/ml_enhanced_extractor.py
(`MLEnhancedExtractor.extract_invoice_data_with_ml`, lines 30-67): base
extraction (our kernel/basic.py) → historical-amount enhancement
(:165-205) → pattern re-extraction filling only missing fields
(:207-319) → consistency correction + ML validation score (:321-391).

Deviations, all inherited reference behavior:

* the DB similarity lookups (_find_similar_supplier/_find_similar_company,
  :105-163) run pg_trgm ``similarity()`` SQL that fails without the
  extension and returns None via the catch-all — modeled as no-ops; the
  relational form of the fuzzy match lives in operators/enrich.py;
* the historical invoice scan (:171-193, last-100 invoices → mean
  VAT rate within [0.15, 0.25]) is a DB query; here it is the
  ``hist_avg_vat_rate`` parameter — :func:`historical_avg_vat_rate`
  reproduces the aggregation math, and the ``vat_imputation`` catalog
  query computes it distributively (ORDER BY DESC LIMIT 100 → avg);
* ``_save_ml_training_data`` (:393-428) is a DB insert — the engine's
  equivalent is the ML-data sink (options_json / manifest metrics).

Like basic/llm/swiss, golden-pinned against the EXECUTED reference
methods (tools/gen_goldens.py §ml) — regex literals are the spec.
"""

from __future__ import annotations

import re
from datetime import date

import pandas as pd

from ocr_spark.kernel import basic

# ml_enhanced_extractor.py:251-256
_NUMBER_PATTERNS = [
    re.compile(p, re.IGNORECASE)
    for p in (
        r"(?:FACTURE|INVOICE|N°|Réf\.?)\s*:?\s*([A-Z0-9\-/]{3,20})",
        r"([A-Z]{2,4}[\-\s]*\d{4,})",
        r"(\d{4,}[\-/]\d{2,})",
        r"([A-Z]+\d{6,})",
    )
]
# ml_enhanced_extractor.py:273-276
_DATE_PATTERNS = [
    re.compile(r"(\d{1,2}[/\-\.]\d{1,2}[/\-\.]\d{2,4})"),
    re.compile(r"(\d{4}[/\-\.]\d{1,2}[/\-\.]\d{1,2})"),
]
# ml_enhanced_extractor.py:303-308 — ordered (pattern, slot) pairs
_AMOUNT_PATTERNS = [
    (re.compile(r"(?:TOTAL\s+TTC|Total\s+TTC)[\s:]*(\d+(?:[,\.]\d{2})?)", re.IGNORECASE), "total_ttc"),
    (re.compile(r"(?:TOTAL\s+HT|Total\s+HT)[\s:]*(\d+(?:[,\.]\d{2})?)", re.IGNORECASE), "total_ht"),
    (re.compile(r"(?:TVA|T\.V\.A)[\s:]*(\d+(?:[,\.]\d{2})?)", re.IGNORECASE), "total_tva"),
    (re.compile(r"(?:À\s+PAYER|MONTANT\s+DÛ)[\s:]*(\d+(?:[,\.]\d{2})?)", re.IGNORECASE), "amount_due"),
]


def extract_invoice_number_ml(text: str) -> str | None:
    """Advanced number patterns (:246-264): first match of length ≥3 that
    is not a pure digit string wins; scanned on the RAW text (the ML layer
    receives the uncleaned OCR text, :53)."""
    for rx in _NUMBER_PATTERNS:
        for match in rx.findall(text):
            if len(match) >= 3 and not match.isdigit():
                return match.strip()
    return None


def extract_dates_ml(text: str) -> dict[str, date]:
    """Date re-extraction (:266-294): all matches of both patterns parsed
    through the base 9-format lattice (DataExtractor._parse_date — our
    basic.parse_date); first parse = invoice_date, last = due_date when
    more than one.  Scan order is pattern-major, exactly the reference's
    double loop."""
    found: list[date] = []
    for rx in _DATE_PATTERNS:
        for match in rx.findall(text):
            parsed = basic.parse_date(match)
            if parsed:
                found.append(parsed)
    dates: dict[str, date] = {}
    if found:
        dates["invoice_date"] = found[0]
        if len(found) > 1:
            dates["due_date"] = found[-1]
    return dates


def extract_amounts_ml(text: str) -> dict[str, float]:
    """Context-pattern amounts (:296-319): first match per slot, comma →
    dot, unparsable first match leaves the slot absent (the reference only
    ever looks at matches[0])."""
    amounts: dict[str, float] = {}
    for rx, slot in _AMOUNT_PATTERNS:
        matches = rx.findall(text)
        if matches:
            try:
                amounts[slot] = float(matches[0].replace(",", "."))
            except ValueError:
                continue
    return amounts


def historical_avg_vat_rate(history: list[tuple[float | None, float | None]]) -> float | None:
    """Mean VAT rate of historical (excluding_taxes, vat) rows with rate in
    [0.15, 0.25] (:180-191); None when no plausible rate — the caller then
    skips imputation, as the reference does."""
    rates = [
        vat / ht
        for ht, vat in history
        if ht and vat and ht > 0 and 0.15 <= vat / ht <= 0.25
    ]
    return sum(rates) / len(rates) if rates else None


def impute_amounts(
    sub: float | None, vat: float | None, ttc: float | None, avg_rate: float | None
) -> tuple[float | None, float | None, float | None]:
    """Historical imputation (:194-199), float-truthy like the reference
    (0.0 counts as absent): missing vat ← sub·rate; then missing ttc ←
    sub + vat."""
    if avg_rate is not None:
        if sub and not vat:
            vat = sub * avg_rate
        if sub and vat and not ttc:
            ttc = sub + vat
    return sub, vat, ttc


def validate_amounts_consistency(
    sub: float | None, vat: float | None, ttc: float | None
) -> float | None:
    """M5' correction (:339-349): all three present and |sub+vat−ttc| >
    0.01 → ttc := sub+vat; returns the (possibly corrected) ttc."""
    if sub and vat and ttc:
        calc = sub + vat
        if abs(calc - ttc) > 0.01:
            return calc
    return ttc


def check_calculation_consistency(
    sub: float | None, vat: float | None, ttc: float | None
) -> bool:
    """M6 flag (:384-391): True only when all three present and coherent."""
    if sub and vat and ttc:
        return abs((sub + vat) - ttc) <= 0.01
    return False


def validation_score(
    number: str | None, ttc: float | None, supplier: str | None, inv_date: date | None
) -> tuple[bool, float]:
    """ML validation (:351-382): four presence checks; required = raw
    count ≥ 2, quality = count / 4."""
    score = sum(1 for ok in (number, ttc, supplier, inv_date) if ok)
    return score >= 2, score / 4.0


def extract(
    texts: pd.Series,
    hist_avg_vat_rate: float | None = None,
) -> pd.DataFrame:
    """Batch ML-enhanced extraction: basic family + the ML layers, in the
    reference's order (:47-59): history → patterns → validate.

    Columns = basic.extract_record's plus invoice_date/due_date (the basic
    family never sets dates; the ML layer does) and the ml_* validation columns.
    Amount enhancement only runs for rows where the basic family found
    SOME totals (``data.totals`` is None otherwise and every ML amount
    branch is gated on it, :96/:230) — a preserved reference quirk.
    """
    base = basic.extract_record(texts)
    raw = texts.reset_index(drop=True)

    out_number, out_inv_date, out_due = [], [], []
    out_sub, out_vat, out_ttc = [], [], []
    out_check, out_required, out_quality = [], [], []
    for i in range(len(base)):
        row = base.iloc[i]
        text = raw.iloc[i] or ""
        number = row["invoice_number"]
        sub, vat, ttc = (
            _f(row["subtotal_excl_vat"]), _f(row["total_vat"]), _f(row["total_incl_vat"])
        )
        has_totals = bool(row["has_totals"])

        # 1. historical enhancement (:96-97) — totals-gated
        if has_totals:
            sub, vat, ttc = impute_amounts(sub, vat, ttc, hist_avg_vat_rate)

        # 2. pattern re-extraction fills only missing fields (:212-238)
        if not number:
            number = extract_invoice_number_ml(text)
        dates = extract_dates_ml(text)
        inv_date = dates.get("invoice_date")  # basic never sets dates (D4)
        due = dates.get("due_date")
        if has_totals:
            enhanced = extract_amounts_ml(text)
            if not ttc and enhanced.get("total_ttc"):
                ttc = enhanced["total_ttc"]
            if not sub and enhanced.get("total_ht"):
                sub = enhanced["total_ht"]
            if not vat and enhanced.get("total_tva"):
                vat = enhanced["total_tva"]

        # 3. validation + correction (:321-391)
        if has_totals:
            ttc = validate_amounts_consistency(sub, vat, ttc)
        required, quality = validation_score(number, ttc, row["supplier_name"], inv_date)

        out_number.append(number)
        out_inv_date.append(inv_date)
        out_due.append(due)
        out_sub.append(sub)
        out_vat.append(vat)
        out_ttc.append(ttc)
        out_check.append(check_calculation_consistency(sub, vat, ttc) if has_totals else False)
        out_required.append(required)
        out_quality.append(quality)

    out = base.copy()
    out["invoice_number"] = out_number
    out["invoice_date"] = out_inv_date
    out["due_date"] = out_due
    out["subtotal_excl_vat"] = out_sub
    out["total_vat"] = out_vat
    out["total_incl_vat"] = out_ttc
    out["ml_calculation_check"] = out_check
    out["ml_required_fields_present"] = out_required
    out["ml_data_quality_score"] = out_quality
    out.index = texts.index
    return out


def _f(v) -> float | None:
    if v is None:
        return None
    if isinstance(v, float) and pd.isna(v):
        return None
    return float(v)
