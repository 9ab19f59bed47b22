"""Keyword gates on the kernel's regex scans against the ungated scans.

A gated pattern runs only when ``textnorm.fold(text)`` (``text.lower()``,
or None when the text holds a ``textnorm.FOLD_UNSAFE`` code point) holds
one of its keys. That skips no match only if every char ``re.IGNORECASE``
matches to a key letter lowercases to exactly that letter; the first test
checks this over every code point. The others compare ``llm.extract``,
``llm.extract_record``, ``basic.extract`` and the gated columns of
``basic.extract_record`` with the ungated bodies, kept verbatim below, on
every golden text and on seeded strings rich in gate keys, in their
case-folding look-alikes (``İ ı ſ K``), in control chars and ``\\x85``.
Pure Python, no Spark.
"""

from __future__ import annotations

import hashlib
import random
import re
import sys
from datetime import date
from decimal import Decimal

import pandas as pd
import pytest

from ocr_spark.corpus import COMPANIES, SUPPLIERS
from ocr_spark.kernel import basic, llm, textnorm

_GATES = [
    *(gate for _, gate in llm._NUMBER_CASCADE),
    llm._DATE_FRENCH_GATE,
    *(gate for _, _, gate in llm._AMOUNT_PATTERNS),
    *(gate for _, gate in llm._CURRENCY_PATTERNS),
    basic._SIRET_GATE,
    basic._VAT_GATE,
]
_KEYS = sorted({part for gate in _GATES if gate for alt in gate for part in alt})


def test_ignorecase_matches_of_gate_letters_lower_to_the_letter():
    assert all(k == k.lower() for k in _KEYS)
    everything = "".join(map(chr, range(sys.maxunicode + 1)))
    checked = 0
    for letter in sorted(set("".join(_KEYS))):
        for m in re.finditer(re.escape(letter), everything, re.I):
            c = m.group()
            checked += 1
            if c in textnorm.FOLD_UNSAFE:
                continue
            assert c.lower() == letter, (hex(ord(c)), letter)
    assert checked > len(set("".join(_KEYS)))  # some letters have look-alikes
    # each unsafe code point does match a gate letter
    for c in textnorm.FOLD_UNSAFE:
        assert any(re.fullmatch(re.escape(x), c, re.I) for x in "".join(_KEYS)), c


# --- ungated bodies, verbatim from before the gates --------------------------

_NUMBER_RXS = [rx for rx, _ in llm._NUMBER_CASCADE]
_AMOUNT_RXS = [(rx, slot) for rx, slot, _ in llm._AMOUNT_PATTERNS]
_CURRENCY_RXS = [rx for rx, _ in llm._CURRENCY_PATTERNS]
_SUPPLIER_RXS = [rx for rx, _ in llm._SUPPLIER_GENERIC]


def ref_invoice_number(text):
    for rx in _NUMBER_RXS:
        for m in rx.finditer(text):
            clean = llm._WS.sub("", m.group(1).strip())
            if len(clean) >= 3:
                return clean
    return f"INV-{hashlib.md5(text.encode()).hexdigest()[:8]}"


def ref_dates(text, as_of_date):
    found = []
    for rx in llm._DATE_NUMERIC:
        for d, m, y in rx.findall(text):
            try:
                day, month, year = int(d), int(m), int(y)
            except ValueError:
                continue
            if year < 100:
                year += 2000
            if 1 <= day <= 31 and 1 <= month <= 12 and 2000 <= year <= 2030:
                try:
                    found.append(date(year, month, day))
                except ValueError:
                    continue
    for d, name, y in llm._DATE_FRENCH.findall(text):
        month = llm._MONTHS.get(name.lower(), 1)
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


def ref_amounts(text, patterns):
    amounts = {}
    for rx, slot in patterns:
        if slot in amounts:
            continue
        for m in rx.finditer(text):
            v = llm._plausible(m.group(1))
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


def ref_currency(text):
    for rx in _CURRENCY_RXS:
        m = rx.search(text)
        if m:
            cur = m.group(1).upper()
            if cur in ("CHF", "EUR", "USD", "GBP"):
                return cur
            if "FRANC" in cur:
                return "CHF"
            if "EURO" in cur:
                return "EUR"
    return "CHF"


def ref_contact(text):
    m = llm._EMAIL_RX.search(text)
    email = m.group(0) if m else None
    phone = None
    for rx in llm._PHONE_RXS:
        m = rx.search(text)
        if m:
            phone = m.group(0)
            break
    return email, phone


def ref_supplier(text, dims):
    for name, name_rx, word_rx in dims:
        if name_rx.search(text):
            return name
        if word_rx and word_rx.search(text):
            return name
    for rx in _SUPPLIER_RXS:
        m = rx.search(text)
        if m:
            return m.group(1).strip()
    return "Fournisseur Inconnu"


def ref_llm(texts, companies, suppliers, generic, as_of_date=date(2025, 8, 19)):
    cleaned = textnorm.clean_llm(texts)
    company_dims = llm._compile_company_dims(companies)
    supplier_dims = llm._compile_supplier_dims(suppliers)
    patterns = _AMOUNT_RXS if generic else _AMOUNT_RXS[:-1]
    records = []
    for text in cleaned:
        inv_date, due = ref_dates(text, as_of_date)
        due = llm.clamp_due_date(inv_date, due)
        amounts = llm.validate_amounts(ref_amounts(text, patterns))
        email, phone = ref_contact(text)
        records.append({
            "invoice_number": ref_invoice_number(text),
            "invoice_date": inv_date,
            "due_date": due,
            "currency": ref_currency(text),
            "total_ht": amounts.get("total_ht"),
            "tva": amounts.get("tva"),
            "total_ttc": amounts.get("total_ttc"),
            "amount_generic": amounts.get("amount_generic"),
            "company_erp_code": llm._find_company_compiled(text, company_dims, companies),
            "supplier_name": ref_supplier(text, supplier_dims),
            "email": email,
            "phone": phone,
        })
    df = pd.DataFrame.from_records(records)
    df.index = texts.index
    return df if generic else df.drop(columns="amount_generic")


def ref_basic(texts):
    cleaned = textnorm.clean_basic(texts)
    return pd.DataFrame({
        "line_items": cleaned.map(basic.line_items),
        "siret": cleaned.map(lambda c: basic._first_group([basic._SIRET_RX], c)),
        "vat_number": cleaned.map(lambda c: basic._first_group([basic._VAT_RX], c)),
        "confidence": cleaned.map(basic.confidence),
    }, index=texts.index)


# --- seeded strings -----------------------------------------------------------

_LOOKALIKES = {"i": ["ı", "İ"], "s": ["ſ"], "k": ["K"]}


def _variants(key: str) -> list[str]:
    """The key, upper-cased, title-cased and with each look-alike swapped in."""
    out = [key, key.upper(), key.title()]
    for plain, subs in _LOOKALIKES.items():
        out += [key.replace(plain, sub) for sub in subs if plain in key]
    return out


_PIECES = [
    *(v for k in _KEYS for v in _variants(k)),
    "TOTAL TTC", "Total HT", "MONTANT HT", "SOUS-TOTAL", "À PAYER", "TOTAL DU DÉCOMPTE",
    "T.V.A", "N° de facture", "Numéro de facture", "FAC-", "Réf.", "Francs suisses",
    "De ", "From: ", "Fournisseur ", "Supplier ", " SA", " SARL", " AG", " GmbH",
    "Acme Services", "a.b@ex.com", "@", "+41 22 345 67 89", "022 345 67 89",
    "12", "1 234,50", "107.70", "12345678901234", "FR12345678901", "0", "2025",
    "15 ", "01/02/2025", "2025-02-01",
    *(v + sep + num for k in ("siret", "siren", "tva", "vat") for v in _variants(k)
      for sep, num in ((" ", "123456789"), (": ", "12345678901234"), (" ", "FR12345678901"))),
    " ", ": ", "\t", "\n", "\x85", "\xa0", "\x00", "\x07", "\x1f", "\x7f", "\x9f",
    "°", "€", "£", "K", "İ", "ı", "ſ", "é", "x", "-", "/", ".",
]
N_RANDOM = 100_000


def _random_strings(n: int, seed: int = 0) -> list[str]:
    rng = random.Random(seed)
    return ["".join(rng.choices(_PIECES, k=rng.randint(1, 10))) for _ in range(n)]


@pytest.fixture(scope="module")
def fuzz() -> pd.Series:
    return pd.Series(_random_strings(N_RANDOM))


def test_gated_llm_equals_ungated_on_random_strings(fuzz):
    want = ref_llm(fuzz, [], [], generic=True)
    pd.testing.assert_frame_equal(llm.extract_record(fuzz), want)
    pd.testing.assert_frame_equal(llm.extract(fuzz), ref_llm(fuzz, [], [], generic=False))
    # the fuzz reaches every amount slot, a French date, each currency and
    # both generic supplier patterns
    for slot in ("total_ttc", "total_ht", "tva", "amount_generic"):
        assert want[slot].notna().sum() > 100, slot
    assert (want["invoice_date"] != date(2025, 8, 19)).sum() > 100
    assert set(want["currency"]) == {"CHF", "EUR", "USD", "GBP"}
    assert (want["supplier_name"] != "Fournisseur Inconnu").sum() > 100


def test_gated_basic_equals_ungated_on_random_strings(fuzz):
    want = ref_basic(fuzz)
    pd.testing.assert_frame_equal(basic.extract(fuzz), want)
    record = basic.extract_record(fuzz)
    pd.testing.assert_frame_equal(record[["siret", "vat_number"]], want[["siret", "vat_number"]])
    assert want["siret"].notna().sum() > 100 and want["vat_number"].notna().sum() > 100


def test_gated_families_equal_ungated_on_golden_texts(goldens):
    texts = pd.Series([e["text"] for e in goldens.values()])
    for companies, suppliers in (([], []), (COMPANIES, SUPPLIERS)):
        pd.testing.assert_frame_equal(
            llm.extract_record(texts, companies=companies, suppliers=suppliers),
            ref_llm(texts, companies, suppliers, generic=True))
        pd.testing.assert_frame_equal(
            llm.extract(texts, companies=companies, suppliers=suppliers),
            ref_llm(texts, companies, suppliers, generic=False))
    want = ref_basic(texts)
    pd.testing.assert_frame_equal(basic.extract(texts), want)
    pd.testing.assert_frame_equal(
        basic.extract_record(texts)[["siret", "vat_number"]], want[["siret", "vat_number"]])


def test_one_pass_cleaners_equal_the_regex_collapse(fuzz, goldens):
    ws, ctrl = re.compile(r"\s+"), re.compile(r"[\x00-\x1f\x7f-\x9f]")

    def ref(s, rx):  # the cleaners' regex form, verbatim
        out = s.fillna("").str.replace(rx, " ", regex=True)
        out = out.str.replace(ws, " ", regex=True)
        return out.str.strip()

    s = pd.concat([fuzz, pd.Series([e["text"] for e in goldens.values()] + [None])],
                  ignore_index=True)
    assert textnorm.clean_swiss(s).tolist() == ref(s, ctrl).tolist()
    assert textnorm.clean_basic(s).tolist() == ref(s, textnorm._RE_BASIC_JUNK).tolist()
