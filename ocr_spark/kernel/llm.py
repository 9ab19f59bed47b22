""""LLM-enhanced" extractor family (the reference's flagship text path).

Reproduces /root/reference/src/extraction/llm_enhanced_extractor.py with the
two sanctioned determinism deviations recorded in FIXTURES.md §5:

* fallback invoice number ``INV-{now}-{md5[:8]}`` (llm_enhanced_extractor.py:
  186-191) → ``INV-{md5(text)[:8]}`` (time component dropped);
* fallback invoice date ``date.today()`` (line 241) → pipeline parameter
  ``as_of_date``.

Verified quirks preserved (SURVEY.md §5.3 / FIXTURES.md §3):

* the number patterns' greedy class ``[A-Z0-9\\-/\\s]{3,25}`` swallows
  following words ("FACT-2025-0042Dated", "110009850987Date");
* the TVA amount pattern has no ``%`` branch, so "TVA 20% 460.00" captures
  the *rate* 20, after which the derivation lattice computes ht = ttc − 20;
* a lone generic ``CHF|EUR|USD <amt>`` match never promotes to total_ttc
  (the reference's dead branch at line 288) — it stays in amount_generic;
* company/supplier matching is first-match-wins in dimension load order,
  ERP-code containment before name-prefix word match (lines 310-370).

A scan whose pattern needs a keyword runs only when the span's
``textnorm.fold`` holds one (``textnorm.may_match``): without it the
pattern cannot match, so every result is the ungated one.
"""

from __future__ import annotations

import hashlib
import re
from datetime import date
from decimal import Decimal, InvalidOperation

import pandas as pd

from ocr_spark.kernel.textnorm import clean_llm, fold, keys, may_match

# llm_enhanced_extractor.py:148-156 — primary ("facture"-adjacent) patterns,
# then :168-175 the secondary ones, each with its gate keys (None: ungated)
_FACTURE = keys("facture")
_NUMBER_CASCADE = [
    (re.compile(p, re.I), gate)
    for p, gate in (
        (r"facture\s*:?\s*n[°o]?\s*:?\s*([A-Z0-9\-/\s]{3,25})", _FACTURE),
        (r"n[°o]\s*de\s*facture\s*:?\s*([A-Z0-9\-/\s]{3,25})", _FACTURE),
        (r"n[°o]\s*facture\s*:?\s*([A-Z0-9\-/\s]{3,25})", _FACTURE),
        (r"facture\s+([A-Z0-9\-/\s]{3,25})", _FACTURE),
        (r"([A-Z0-9\-/\s]{3,25})\s*facture", _FACTURE),
        (r"numéro\s*de\s*facture\s*:?\s*([A-Z0-9\-/\s]{3,25})", keys("numéro+facture")),
        (r"(?:FACTURE|INVOICE|Réf\.?|Reference)\s*:?\s*([A-Z0-9\-/\s]{3,25})",
         keys("facture", "invoice", "réf", "reference")),
        (r"([A-Z]{2,5}[\-\s]*\d{4,})", None),
        (r"(\d{4,}[\-/]\d{2,}[\-/]?\d*)", None),
        (r"([A-Z]+\d{6,})", None),
        (r"(FAC[\-\s]*[A-Z0-9]{3,})", keys("fac")),
        (r"(\d{8,})", None),
    )
]
# llm_enhanced_extractor.py:198-202
_DATE_NUMERIC = [
    re.compile(r"(\d{1,2})[/\-\.](\d{1,2})[/\-\.](\d{2,4})"),
    re.compile(r"(\d{4})[/\-\.](\d{1,2})[/\-\.](\d{1,2})"),
]
_DATE_FRENCH = re.compile(
    r"(\d{1,2})\s+(janvier|février|mars|avril|mai|juin|juillet|août"
    r"|septembre|octobre|novembre|décembre)\s+(\d{4})",
    re.I,
)
_MONTHS = {
    "janvier": 1, "février": 2, "mars": 3, "avril": 4, "mai": 5, "juin": 6,
    "juillet": 7, "août": 8, "septembre": 9, "octobre": 10, "novembre": 11,
    "décembre": 12,
}
_DATE_FRENCH_GATE = keys(*_MONTHS)
# llm_enhanced_extractor.py:250-259 — ordered (pattern, slot, gate) triples;
# ``extract`` skips the last (amount_generic), which the lattice never reads
_AMOUNT_PATTERNS = [
    (re.compile(r"(?:TOTAL\s+TTC|Total\s+TTC|MONTANT\s+TTC|À\s+PAYER|TOTAL\s+DU\s+DÉCOMPTE)[\s:]*(?:CHF|EUR|USD)?\s*([\d\s\'.,]+)", re.I),
     "total_ttc", keys("ttc", "payer", "décompte")),
    (re.compile(r"(?:TOTAL\s+HT|Total\s+HT|MONTANT\s+HT|SOUS[\-\s]TOTAL)[\s:]*(?:CHF|EUR|USD)?\s*([\d\s\'.,]+)", re.I),
     "total_ht", keys("total+ht", "montant+ht", "sous+total")),
    (re.compile(r"(?:TVA|T\.V\.A|TAXE)[\s:]*(?:CHF|EUR|USD)?\s*([\d\s\'.,]+)", re.I),
     "tva", keys("tva", "t.v.a", "taxe")),
    (re.compile(r"(?:CHF|EUR|USD)\s*([\d\s\'.,]+)", re.I),
     "amount_generic", keys("chf", "eur", "usd")),
]
_AMOUNT_JUNK = re.compile(r"[\s']")
# llm_enhanced_extractor.py:374-378
_CURRENCY_PATTERNS = [
    (re.compile(r"\b(CHF|EUR|USD|GBP)\b", re.I), keys("chf", "eur", "usd", "gbp")),
    (re.compile(r"(Francs?\s+suisses?)", re.I), keys("franc+suisse")),
    (re.compile(r"(Euros?)", re.I), keys("euro")),
]
# llm_enhanced_extractor.py:399-406 (case-sensitive: gated on "@")
_EMAIL_RX = re.compile(r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b")
_PHONE_RXS = [
    re.compile(r"\+41\s*\d{2}\s*\d{3}\s*\d{2}\s*\d{2}"),
    re.compile(r"0\d{2}\s*\d{3}\s*\d{2}\s*\d{2}"),
]
# llm_enhanced_extractor.py:358-361 — case-sensitive, so gated on literal
# keys in the text itself (SARL and SAS contain SA)
_SUPPLIER_GENERIC = [
    (re.compile(r"(?:De|From|Fournisseur|Supplier)[\s:]+([A-Z][A-Za-z\s&]{5,30})"),
     keys("De", "From", "Fournisseur", "Supplier")),
    (re.compile(r"([A-Z][A-Za-z\s&]{5,30})\s+(?:SA|SARL|SAS|AG|GmbH)"),
     keys("SA", "AG", "GmbH")),
]

_WS = re.compile(r"\s+")


def extract_invoice_number(text: str, low: str | None) -> str:
    """X2 cascade with determinized fallback (FIXTURES.md §5); ``low`` is
    ``fold(text)``.

    finditer, not findall: the cascade takes the FIRST acceptable match,
    so lazy iteration short-circuits instead of materializing every
    match in the document (profiled: findall across the cascades was the
    single largest kernel cost; match order is identical)."""
    for rx, gate in _NUMBER_CASCADE:
        if not may_match(low, gate):
            continue
        for m in rx.finditer(text):
            clean = _WS.sub("", m.group(1).strip())
            if len(clean) >= 3:
                return clean
    return f"INV-{hashlib.md5(text.encode()).hexdigest()[:8]}"


def extract_dates(text: str, low: str | None, as_of_date: date) -> tuple[date | None, date | None]:
    """D2: collect plausible dates, sort; first=invoice, last=due."""
    found: list[date] = []
    for rx in _DATE_NUMERIC:
        for d, m, y in rx.findall(text):
            try:
                day, month, year = int(d), int(m), int(y)
            except ValueError:
                continue
            if year < 100:
                year += 2000
            if 1 <= day <= 31 and 1 <= month <= 12 and 2000 <= year <= 2030:
                try:  # 31/02 passes the range gate but not the calendar
                    found.append(date(year, month, day))
                except ValueError:
                    continue
    french = _DATE_FRENCH.findall(text) if may_match(low, _DATE_FRENCH_GATE) else ()
    for d, name, y in french:
        month = _MONTHS.get(name.lower(), 1)
        try:
            day, year = int(d), int(y)
        except ValueError:
            continue
        if 1 <= day <= 31 and 2000 <= year <= 2030:
            try:
                found.append(date(year, month, day))
            except ValueError:
                continue
    if not found:
        return as_of_date, None
    found.sort()
    due = found[-1] if len(found) > 1 else None
    return found[0], due


def _plausible(raw: str) -> Decimal | None:
    try:
        v = Decimal(_AMOUNT_JUNK.sub("", raw).replace(",", "."))
    except (InvalidOperation, ValueError):
        return None
    return v if Decimal("0.01") <= v <= Decimal("999999.99") else None


def extract_amounts(text: str, low: str | None, patterns) -> dict[str, Decimal]:
    """M3 context patterns + M4 derivation lattice + default."""
    amounts: dict[str, Decimal] = {}
    for rx, slot, gate in patterns:
        if slot in amounts or not may_match(low, gate):
            continue
        for m in rx.finditer(text):  # first plausible wins — lazy scan
            v = _plausible(m.group(1))
            if v is not None:
                amounts[slot] = v
                break
    if "total_ht" in amounts and "tva" in amounts and "total_ttc" not in amounts:
        amounts["total_ttc"] = amounts["total_ht"] + amounts["tva"]
    elif "total_ttc" in amounts and "total_ht" in amounts and "tva" not in amounts:
        amounts["tva"] = amounts["total_ttc"] - amounts["total_ht"]
    elif "total_ttc" in amounts and "tva" in amounts and "total_ht" not in amounts:
        amounts["total_ht"] = amounts["total_ttc"] - amounts["tva"]
    if not amounts:
        amounts["total_ttc"] = Decimal("0.00")
    return amounts


def validate_amounts(amounts: dict[str, Decimal]) -> dict[str, Decimal]:
    """M5 consistency correction (llm_enhanced_extractor.py:458-463)."""
    out = dict(amounts)
    if "total_ht" in out and "tva" in out:
        calc = out["total_ht"] + out["tva"]
        if "total_ttc" not in out or abs(out["total_ttc"] - calc) > Decimal("0.01"):
            out["total_ttc"] = calc
    return out


def clamp_due_date(invoice_date: date | None, due_date: date | None) -> date | None:
    """D3 (llm_enhanced_extractor.py:466-471): due < invoice → due := invoice."""
    if invoice_date and due_date and due_date < invoice_date:
        return invoice_date
    return due_date


def extract_currency(text: str, low: str | None) -> str:
    """X12: code word → franc/euro spelling → default CHF."""
    for rx, gate in _CURRENCY_PATTERNS:
        m = rx.search(text) if may_match(low, gate) else None
        if m:
            cur = m.group(1).upper()
            if cur in ("CHF", "EUR", "USD", "GBP"):
                return cur
            if "FRANC" in cur:
                return "CHF"
            if "EURO" in cur:
                return "EUR"
    return "CHF"


def extract_contact(text: str) -> tuple[str | None, str | None]:
    m = _EMAIL_RX.search(text) if "@" in text else None
    email = m.group(0) if m else None
    phone = None
    for rx in _PHONE_RXS:
        m = rx.search(text)
        if m:
            phone = m.group(0)
            break
    return email, phone


def _compile_company_dims(companies: list[dict]) -> list[tuple[str, "re.Pattern | None", "re.Pattern | None"]]:
    """Precompiled (erp, erp_rx, name_words_rx) per dim — the dim regexes
    are constant across a batch, but compiling them per ROW (re.escape +
    cache lookup per dim per doc) measured ~10 % of the llm family."""
    out = []
    for company in companies:
        erp = company.get("erp_code", "")
        name = company.get("name", "")
        erp_rx = re.compile(re.escape(erp), re.I) if erp else None
        words_rx = None
        if name and len(name) > 5:
            words = name.split()[:3]
            if len(words) >= 2:
                words_rx = re.compile(r"\b" + re.escape(" ".join(words)) + r"\b", re.I)
        out.append((erp, erp_rx, words_rx))
    return out


def _find_company_compiled(text: str, dims, companies: list[dict]) -> str | None:
    """J1/J2: first company (dim order) whose ERP code appears in the text,
    or whose 2-3 leading name words appear word-bounded; default = first
    dim row's ERP code (llm_enhanced_extractor.py:310-336)."""
    for erp, erp_rx, words_rx in dims:
        if erp_rx and erp_rx.search(text):
            return erp
        if words_rx and words_rx.search(text):
            return erp
    if companies:
        return companies[0]["erp_code"]
    return "DEFAULT_COMPANY"


def _compile_supplier_dims(suppliers: list[dict]) -> list[tuple[str, "re.Pattern", "re.Pattern"]]:
    out = []
    for supplier in suppliers:
        name = supplier.get("social_reason", "")
        if name and len(name) > 3:
            words = name.split()[:2]
            out.append(
                (
                    name,
                    re.compile(re.escape(name), re.I),
                    re.compile(r"\b" + re.escape(words[0]) + r"\b", re.I) if len(words) >= 1 else None,
                )
            )
    return out


def _find_supplier_compiled(text: str, dims) -> str | None:
    for name, name_rx, word_rx in dims:
        if name_rx.search(text):
            return name
        if word_rx and word_rx.search(text):
            return name
    for rx, gate in _SUPPLIER_GENERIC:
        m = rx.search(text) if may_match(text, gate) else None
        if m:
            return m.group(1).strip()
    return "Fournisseur Inconnu"


_RECORD_COLUMNS = [
    "invoice_number", "invoice_date", "due_date", "currency", "total_ht", "tva",
    "total_ttc", "amount_generic", "company_erp_code", "supplier_name", "email", "phone",
]


def _frame(texts, as_of_date, companies, suppliers, cleaned, generic: bool) -> pd.DataFrame:
    cleaned = clean_llm(texts) if cleaned is None else cleaned
    companies = companies or []
    company_dims = _compile_company_dims(companies)
    supplier_dims = _compile_supplier_dims(suppliers or [])
    patterns = _AMOUNT_PATTERNS if generic else _AMOUNT_PATTERNS[:-1]
    records = []
    for text in cleaned:
        low = fold(text)
        inv_date, due = extract_dates(text, low, as_of_date)
        due = clamp_due_date(inv_date, due)
        amounts = validate_amounts(extract_amounts(text, low, patterns))
        email, phone = extract_contact(text)
        records.append(
            {
                "invoice_number": extract_invoice_number(text, low),
                "invoice_date": inv_date,
                "due_date": due,
                "currency": extract_currency(text, low),
                "total_ht": amounts.get("total_ht"),
                "tva": amounts.get("tva"),
                "total_ttc": amounts.get("total_ttc"),
                "amount_generic": amounts.get("amount_generic"),
                "company_erp_code": _find_company_compiled(text, company_dims, companies),
                "supplier_name": _find_supplier_compiled(text, supplier_dims),
                "email": email,
                "phone": phone,
            }
        )
    columns = _RECORD_COLUMNS if generic else [c for c in _RECORD_COLUMNS if c != "amount_generic"]
    df = pd.DataFrame.from_records(records, columns=columns)
    df.index = texts.index
    return df


def extract(
    texts: pd.Series,
    as_of_date: date = date(2025, 8, 19),
    companies: list[dict] | None = None,
    suppliers: list[dict] | None = None,
    cleaned: pd.Series | None = None,
) -> pd.DataFrame:
    """The LLM-family columns ``assemble.fields_batch`` reads: the record of
    :func:`extract_record` without the ``amount_generic`` scan. Where that
    scan alone found an amount, ``total_ttc`` is the ``0.00`` default here
    and None in the record; the merge lattice treats both as absent.

    Output money columns are Decimal (or None); dates are datetime.date.
    ``cleaned`` is ``clean_llm(texts)`` when the caller already has it.
    """
    return _frame(texts, as_of_date, companies, suppliers, cleaned, generic=False)


def extract_record(
    texts: pd.Series,
    as_of_date: date = date(2025, 8, 19),
    companies: list[dict] | None = None,
    suppliers: list[dict] | None = None,
    cleaned: pd.Series | None = None,
) -> pd.DataFrame:
    """The reference's full LLM-family record, one row per text."""
    return _frame(texts, as_of_date, companies, suppliers, cleaned, generic=True)
