"""Basic pattern-extractor family.

Reproduces, bit-for-bit, the behavior of the reference's
``DataExtractor.extract_invoice_data`` pure-text path
(/root/reference/src/extraction/data_extractor.py:85-489), including its
verified quirks — they are the spec (SURVEY.md §5.3):

* the cleaner destroys newlines, so the "line"-based supplier/customer
  section scans see one giant line (supplier/customer usually None);
* invoice-number pattern 2 ``FAC[-\\s]*([A-Z0-9\\-/]+)`` happily captures
  ``"TURE"`` out of the word ``FACTURE`` (data_extractor.py:256);
* date extraction is disabled in the reference (lines 266-292 commented
  out) — we expose ``parse_date`` (the 9-format lattice, lines 389-403)
  for tests but never set a date in the basic record;
* totals-pattern ``(?:TVA\\s*\\d+%|TVA)[\\s:]*...`` captures the amount
  after "TVA 20%" (the % branch wins) — unlike the LLM family.

The line-item literal gains a ``(?<![^\\d\\n])`` anchor, same ``findall``
output: a match at p after a ``[^\\d\\n]`` char implies one at p-1 (same
group-1 ends), which the scan tries first, and no match ends on a non-digit.
It keeps ``([^\\d\\n]+)`` from retrying at every position of a run (quadratic).

:func:`extract` gives the four fields the merge lattice reads and
:func:`extract_record` the reference's full 27-field record: both are batch
``Series[str] -> DataFrame`` functions built from the same per-text steps.
"""

from __future__ import annotations

import re
from datetime import date, datetime

import pandas as pd

from ocr_spark.kernel.textnorm import clean_basic

# --- pattern registry (regex literals are the reference's spec;
#     cited per-pattern) -----------------------------------------------------

# data_extractor.py:254-258
_INVOICE_NUMBER_PATTERNS = [
    re.compile(r"(?:N°\s*FACTURE|FACTURE\s*N°|INVOICE\s*NUMBER)[\s:]*([A-Z0-9\-/]+)", re.I),
    re.compile(r"FAC[\-\s]*([A-Z0-9\-/]+)", re.I),
    re.compile(r"(?:N°|Réf\s*N°)[\s:]*([A-Z0-9\-/]+)", re.I),
]
# data_extractor.py:69-82
_SIRET_RX = re.compile(r"(?:siret|siren)[\s:]*(\d{9,14})", re.I)
_VAT_RX = re.compile(r"(?:tva|vat)[\s:]*([A-Z]{2}\d{11})", re.I)
# data_extractor.py:310, behind a (?<![^\d\n]) anchor (module docstring)
_LINE_ITEM_RX = re.compile(
    r"(?<![^\d\n])([^\d\n]+)\s+(\d+(?:[,\.]\d+)?)\s+(\d+(?:[,\.]\d{2})?)\s+(\d+(?:[,\.]\d{2})?)"
)
# data_extractor.py:343-352 — ordered (pattern, field) pairs
_TOTALS_PATTERNS = [
    (re.compile(r"(?:Sous.total|TOTAL\s+HT)[\s:]*(\d+(?:[,\.]\d{2})?)", re.I), "subtotal_excl_vat"),
    (re.compile(r"(?:TVA\s*\d+%|TVA)[\s:]*(\d+(?:[,\.]\d{2})?)", re.I), "total_vat"),
    (re.compile(r"(?:TOTAL\s+TTC|Total\s+TTC)[\s:]*(\d+(?:[,\.]\d{2})?)", re.I), "total_incl_vat"),
    (re.compile(r"(?:TOTAL|Total)[\s:]*(\d+(?:[,\.]\d{2})?)", re.I), "amount_due"),
]
# data_extractor.py:170,227 — "looks like a date" veto inside name picks
_DATEISH_RX = re.compile(r"\d{2}[/\-\.]\d{2}")
_PURE_NUMBER_RX = re.compile(r"^\d+$")
# data_extractor.py:454,461
_POSTAL_RX = re.compile(r"(\d{5})\s+([A-Z\s]+)")
_STREET_RX = re.compile(r"\d+.*(?:rue|avenue|boulevard|place|rond.point|parc)", re.I)
# _STREET_RX backtracks O(n^2) on long keyword-free lines (and after the T1
# clean every "line" is the whole document, data_extractor.py:144-146).
# These substrings are a necessary condition for any match ('rond.point'
# needs both halves), so a failed cheap containment check skips the regex
# without changing semantics.
_STREET_HINTS = ("rue", "avenue", "boulevard", "place", "parc")


def _street_possible(line: str) -> bool:
    low = line.lower()
    if any(w in low for w in _STREET_HINTS):
        return True
    return "rond" in low and "point" in low
# data_extractor.py:480-487
_EMAIL_RX = re.compile(r"([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,})")
_PHONE_RX = re.compile(r"(?:tél|tel|phone)[\s:]*([0-9\s\.\-\+]{10,})", re.I)
# data_extractor.py:242
_RCS_RX = re.compile(r"R\.C\.S[^0-9]*(\d+(?:\s+\d+)*)", re.I)

_SUPPLIER_STOPWORDS = ("FACTURER", "CLIENT", "DESTINATAIRE", "FACTURE")
_CUSTOMER_STARTWORDS = ("FACTURER À", "FACTURER A", "CLIENT", "DESTINATAIRE")
_CUSTOMER_STOPWORDS = ("DESCRIPTION", "PRESTATION", "TOTAL", "MONTANT")
_TOTALS_LINE_WORDS = ("TOTAL", "TVA", "SOUS-TOTAL")

# data_extractor.py:407-410
_CONFIDENCE_KEYWORDS = [
    "facture", "invoice", "total", "tva", "ht", "ttc",
    "siret", "date", "montant", "quantité",
]

# data_extractor.py:391-395
_DATE_FORMATS = [
    "%d/%m/%Y", "%d-%m-%Y", "%d.%m.%Y",
    "%d/%m/%y", "%d-%m-%y", "%d.%m.%y",
    "%Y/%m/%d", "%Y-%m-%d", "%Y.%m.%d",
]


def parse_date(date_str: str) -> date | None:
    """9-format date lattice (data_extractor.py:389-403)."""
    for fmt in _DATE_FORMATS:
        try:
            return datetime.strptime(date_str, fmt).date()
        except ValueError:
            continue
    return None


def _first_group(rxs, text: str) -> str | None:
    for rx in rxs:
        m = rx.search(text)
        if m:
            return m.group(1).strip()
    return None


def _supplier_section(lines: list[str]) -> list[str]:
    section = []
    for line in lines:
        up = line.strip().upper()
        if any(w in up for w in _SUPPLIER_STOPWORDS):
            break
        st = line.strip()
        if st and len(st) > 2:
            section.append(st)
    return section


def _customer_section(lines: list[str]) -> list[str]:
    section, inside = [], False
    for line in lines:
        up = line.strip().upper()
        if any(w in up for w in _CUSTOMER_STARTWORDS):
            inside = True
            continue
        if inside and any(w in up for w in _CUSTOMER_STOPWORDS):
            break
        if inside and line.strip():
            section.append(line.strip())
    return section


def _address_of(section: list[str]) -> dict:
    out: dict[str, str] = {}
    for line in section:
        m = _POSTAL_RX.search(line.upper())
        if m:
            out["postal_code"] = m.group(1)
            out["city"] = m.group(2).strip()
            continue
        if _street_possible(line) and _STREET_RX.search(line):
            out["street"] = line
    if out:
        out["country"] = "France"
    return out


def _contact_of(section: list[str]) -> dict:
    out: dict[str, str] = {}
    for line in section:
        m = _EMAIL_RX.search(line)
        if m:
            out["email"] = m.group(1)
        m = _PHONE_RX.search(line)
        if m:
            out["phone"] = m.group(1).strip()
    return out


def line_items(cleaned: str) -> list[dict]:
    """Line items of one cleaned text (data_extractor.py:304-336)."""
    items = []
    for m in _LINE_ITEM_RX.findall(cleaned):
        try:
            amount = float(m[3].replace(",", "."))
            items.append(
                {
                    "description": m[0].strip(),
                    "quantity": float(m[1].replace(",", ".")),
                    "unit_price": float(m[2].replace(",", ".")),
                    "amount_excl_vat": amount,
                    "vat_rate": 0.20,
                    "vat_amount": amount * 0.20,
                    "amount_incl_vat": amount * 1.20,
                }
            )
        except (ValueError, IndexError):
            continue
    return items


def confidence(cleaned: str) -> float:
    """Keyword confidence of one cleaned text (data_extractor.py:405-415)."""
    low = cleaned.lower()
    return min(sum(1 for k in _CONFIDENCE_KEYWORDS if k in low) / len(_CONFIDENCE_KEYWORDS), 1.0)


def siret(cleaned: str) -> str | None:
    return _first_group([_SIRET_RX], cleaned)


def vat_number(cleaned: str) -> str | None:
    return _first_group([_VAT_RX], cleaned)


def _record(cleaned: str) -> dict:
    """Full basic extraction for one already-cleaned document text."""
    lines = cleaned.split("\n")

    # supplier (data_extractor.py:149-195)
    sup_section = _supplier_section(lines)
    supplier_name = None
    for line in sup_section[:5]:
        if len(line) > 3 and not _DATEISH_RX.search(line) and not _PURE_NUMBER_RX.search(line) and "@" not in line:
            supplier_name = line
            break
    sup_addr = _address_of(sup_section)
    sup_contact = _contact_of(sup_section)

    # customer (data_extractor.py:197-247)
    cust_section = _customer_section(lines)
    customer_name = None
    for line in cust_section[:3]:
        if (
            len(line) > 3
            and not _DATEISH_RX.search(line)
            and not line.upper().startswith("CONTACT")
            and not line.upper().startswith("R.C.S")
        ):
            customer_name = line
            break
    customer_id = None
    for line in cust_section:
        if "R.C.S" in line.upper():
            m = _RCS_RX.search(line)
            if m:
                customer_id = m.group(1).replace(" ", "")
            break
    cust_addr = _address_of(cust_section)

    # invoice info (data_extractor.py:249-302)
    invoice_number = _first_group(_INVOICE_NUMBER_PATTERNS, cleaned)
    currency = "EUR" if "€" in cleaned else ("USD" if "$" in cleaned else "EUR")

    items = line_items(cleaned)

    # totals (data_extractor.py:338-375): first match per field wins,
    # scanned only on lines carrying a totals keyword.
    totals: dict[str, float] = {}
    for line in lines:
        up = line.upper()
        if any(w in up for w in _TOTALS_LINE_WORDS):
            for rx, field in _TOTALS_PATTERNS:
                m = rx.search(line)
                if m and field not in totals:
                    try:
                        totals[field] = float(m.group(1).replace(",", "."))
                    except ValueError:
                        continue
    if "total_incl_vat" in totals and "amount_due" not in totals:
        totals["amount_due"] = totals["total_incl_vat"]
    has_totals = bool(totals)

    # validation (data_extractor.py:417-442) — note float truthiness:
    # a 0.0 subtotal/ttc counts as absent, as in the reference.
    calculation_check = False
    if has_totals and items:
        calc_subtotal = sum(i["amount_excl_vat"] or 0 for i in items)
        sub = totals.get("subtotal_excl_vat")
        if sub and abs(calc_subtotal - sub) < 0.01:
            calculation_check = True
    required = bool(has_totals and (totals.get("total_incl_vat") or totals.get("amount_due")))
    quality = (0.4 if has_totals else 0.0) + (0.3 if items else 0.0) + (0.3 if calculation_check else 0.0)

    return {
        "supplier_name": supplier_name,
        "siret": siret(cleaned),
        "vat_number": vat_number(cleaned),
        "supplier_street": sup_addr.get("street"),
        "supplier_postal_code": sup_addr.get("postal_code"),
        "supplier_city": sup_addr.get("city"),
        "supplier_country": sup_addr.get("country"),
        "supplier_email": sup_contact.get("email"),
        "supplier_phone": sup_contact.get("phone"),
        "customer_name": customer_name,
        "customer_id": customer_id,
        "customer_street": cust_addr.get("street"),
        "customer_postal_code": cust_addr.get("postal_code"),
        "customer_city": cust_addr.get("city"),
        "customer_country": cust_addr.get("country"),
        "invoice_number": invoice_number,
        "currency": currency,
        "line_items": items,
        "subtotal_excl_vat": totals.get("subtotal_excl_vat"),
        "total_vat": totals.get("total_vat"),
        "total_incl_vat": totals.get("total_incl_vat"),
        "amount_due": totals.get("amount_due"),
        "has_totals": has_totals,
        "confidence": confidence(cleaned),
        "calculation_check": calculation_check,
        "required_fields_present": required,
        "data_quality_score": quality,
    }


def extract(texts: pd.Series) -> pd.DataFrame:
    """The four fields ``assemble.fields_batch`` reads, one row per text;
    the other 23 of the record (:func:`extract_record`) are not computed."""
    steps = (line_items, siret, vat_number, confidence)
    cleaned = clean_basic(texts)
    return pd.DataFrame({f.__name__: cleaned.map(f) for f in steps}, index=texts.index)


def extract_record(texts: pd.Series) -> pd.DataFrame:
    """The reference's full 27-field basic record, one row per text (the ML
    family builds on it); the section/cascade logic is sequential per text."""
    df = pd.DataFrame.from_records([_record(c) for c in clean_basic(texts)])
    df.index = texts.index
    return df
