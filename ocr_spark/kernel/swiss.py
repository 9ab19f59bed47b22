"""Swiss-invoice extractor family.

Reproduces /root/reference/src/extraction/swiss_invoice_extractor.py.

Quirk preserved: the reference writes its amount patterns as raw strings
containing ``[^\\\\n]*`` — i.e. the character class "anything but a
BACKSLASH or the letter n", NOT "anything but newline" (swiss_invoice_
extractor.py:41-51).  The context match therefore cannot cross a letter
'n'; that behavior is the spec and the pattern literals below keep it.
"""

from __future__ import annotations

import re
from datetime import date
from decimal import Decimal, InvalidOperation

import pandas as pd

from ocr_spark.kernel.textnorm import clean_swiss

# swiss_invoice_extractor.py:21-25
_NUMBER_PATTERNS = [
    re.compile(p, re.I)
    for p in (
        r"N[°\s]*de\s+facture\s*:?\s*(\d+(?:\s+\d+)*)",
        r"facture\s*:?\s*(\d+(?:\s+\d+)*)",
        r"N[°\s]*facture\s*:?\s*(\d+(?:\s+\d+)*)",
    )
]
# swiss_invoice_extractor.py:27-30
_DATE_PATTERNS = [
    re.compile(r"Date\s*:?\s*(\d{1,2})\s+(\w+)\s+(\d{4})", re.I),
    re.compile(
        r"(\d{1,2})\s+(janvier|février|mars|avril|mai|juin|juillet|août"
        r"|septembre|octobre|novembre|décembre)\s+(\d{4})",
        re.I,
    ),
]
# swiss_invoice_extractor.py:32-36
_CURRENCY_PATTERNS = [
    re.compile(r"Montant\s+(CHF|EUR|USD)", re.I),
    re.compile(r"(CHF|EUR|USD)\s+[\d\s'.,]+", re.I),
    re.compile(r"Monnaie\s+(CHF|EUR|USD)", re.I),
]
# swiss_invoice_extractor.py:39-53 — pattern literals verbatim, incl. the
# [^\\n] (not-backslash-not-n) artifact; I|DOTALL flags as in :235.
_AMOUNT_PATTERNS = {
    "total_ttc": [
        re.compile(r"Montant\s+à\s+payer[^\\n]*(?:CHF|EUR|USD)\s+([\d\s'.,]+)", re.I | re.S),
        re.compile(r"Total\s+du\s+décompte[^\\n]*(?:CHF|EUR|USD)\s+([\d\s'.,]+)", re.I | re.S),
        re.compile(r"(?:CHF|EUR|USD)\s+([\d\s'.,]+)(?=\s*$|\s*Point)", re.I | re.S),
    ],
    "total_ht": [
        re.compile(r"Total\s+.*\(hors\s+TVA\)[^\\n]*(?:CHF|EUR|USD)\s+([\d\s'.,]+)", re.I | re.S),
        re.compile(r"Electricité[^\\n]*(?:CHF|EUR|USD)\s+([\d\s'.,]+)(?=\s*TVA)", re.I | re.S),
    ],
    "tva": [
        re.compile(r"TVA[^\\n]*(?:CHF|EUR|USD)\s+([\d\s'.,]+)", re.I | re.S),
        re.compile(r"Total\s+TVA[^\\n]*(?:CHF|EUR|USD)\s+([\d\s'.,]+)", re.I | re.S),
    ],
}
_MONTHS = {
    "janvier": 1, "février": 2, "mars": 3, "avril": 4, "mai": 5, "juin": 6,
    "juillet": 7, "août": 8, "septembre": 9, "octobre": 10, "novembre": 11,
    "décembre": 12,
}
_WS = re.compile(r"\s+")
_JUNK = re.compile(r"[\s']")


def extract_invoice_number(text: str) -> str | None:
    for rx in _NUMBER_PATTERNS:
        m = rx.search(text)
        if m:
            return _WS.sub("", m.group(1))
    return None


def extract_date(text: str) -> date | None:
    for rx in _DATE_PATTERNS:
        m = rx.search(text)
        if m:
            try:
                day = int(m.group(1))
                month = _MONTHS.get(m.group(2).lower())
                year = int(m.group(3))
                if month:
                    return date(year, month, day)
            except (ValueError, IndexError):
                continue
    return None


def extract_currency(text: str) -> str:
    for rx in _CURRENCY_PATTERNS:
        m = rx.search(text)
        if m:
            return m.group(1).upper()
    return "CHF"


def extract_amounts(text: str) -> dict[str, Decimal | None]:
    amounts: dict[str, Decimal | None] = {"total_ttc": None, "total_ht": None, "tva": None}
    for slot, patterns in _AMOUNT_PATTERNS.items():
        for rx in patterns:
            m = rx.search(text)
            if m:
                try:
                    amounts[slot] = Decimal(_JUNK.sub("", m.group(1)).replace(",", "."))
                    break
                except (InvalidOperation, ValueError, IndexError):
                    continue
    return amounts


def _lattice_frame(swissed: pd.Series) -> pd.DataFrame:
    amounts = [extract_amounts(t) for t in swissed]
    return pd.DataFrame(
        {
            "invoice_date": [extract_date(t) for t in swissed],
            **{slot: [a[slot] for a in amounts] for slot in _AMOUNT_PATTERNS},
        },
        index=swissed.index,
    )


def extract(swissed: pd.Series) -> pd.DataFrame:
    """The Swiss-family columns ``assemble.fields_batch`` reads
    (invoice_date and the three amounts), from ``clean_swiss`` rows."""
    return _lattice_frame(swissed)


def extract_record(texts: pd.Series) -> pd.DataFrame:
    """The reference's full Swiss-family record, one row per raw text."""
    swissed = clean_swiss(texts)
    out = _lattice_frame(swissed)
    out.insert(0, "invoice_number", [extract_invoice_number(t) for t in swissed])
    out.insert(2, "currency", [extract_currency(t) for t in swissed])
    return out
