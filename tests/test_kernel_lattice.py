"""``assemble.fields_batch`` against an eager merge lattice.

``fields_batch`` runs the Swiss family only on spans where an LLM slot it
backs (number, date, currency, the three amounts) is falsy. The eager
lattice below runs the llm, swiss and basic families on every span and
applies invoice_service.py:249-356 as written, so both must give equal
frames: on synth docs, with ``as_of_date=None`` (the LLM date can be
missing, so the Swiss date is consulted), on crafted spans where each
Swiss fallback wins (including an LLM ``0.00`` amount), on spans no family
matches, with a first company row whose ``erp_code`` is empty, on a batch
no span of which needs Swiss, and on an empty batch. The eager lattice
keeps the reference's full chain, including the fallbacks ``fields_batch``
drops as unreachable (``INV-DEFAULT``, the Swiss number and currency,
``CHF``, ``Fournisseur Inconnu``). It reads the full family records
(``llm.extract_record``, ``swiss.extract_record``), so it also checks
that what ``llm.extract`` and ``swiss.extract`` skip (the generic amount
scan, the Swiss number and currency) changes no merged field.
``basic.extract`` is checked against the same columns of
``basic.extract_record``. Pure pandas, no Spark.
"""

from __future__ import annotations

import json
from decimal import Decimal

import pandas as pd
import pytest

from ocr_spark import synth
from ocr_spark.corpus import COMPANIES, SUPPLIERS
from ocr_spark.kernel import assemble, basic, llm, swiss
from ocr_spark.kernel.textnorm import clean_llm, normalize_ocr

_SWISS_EXTRACT = swiss.extract


def _dec(v):
    return None if v is None else Decimal(str(v))


def _eager_fields(resolved, as_of_date, companies=None, suppliers=None) -> pd.DataFrame:
    if len(resolved) == 0:
        return pd.DataFrame(columns=assemble.FIELDS_COLUMNS)
    base = resolved.reset_index(drop=True)
    contents = base["content"]
    ls = llm.extract_record(contents, as_of_date=as_of_date, companies=companies,
                            suppliers=suppliers).to_dict("records")
    ss = swiss.extract_record(contents).to_dict("records")
    bs = basic.extract(contents).to_dict("records")
    norm = clean_llm(contents).where(base["kind"] != "ocr", normalize_ocr(contents))
    rows = []
    for i, (L, S, B, span) in enumerate(zip(ls, ss, bs, base.to_dict("records"))):
        inv_date = L["invoice_date"] or S["invoice_date"]
        ttc = _dec(L["total_ttc"]) or _dec(S["total_ttc"]) or Decimal("0.00")
        rows.append({
            "doc_id": span["doc_id"],
            "kind": span["kind"],
            "media_ref": span["media_ref"] or "",
            "offset": int(span["offset"]),
            "norm_text": norm[i],
            "invoice_number": L["invoice_number"] or S["invoice_number"] or "INV-DEFAULT",
            "invoice_date": inv_date.isoformat() if inv_date else None,
            "due_date": L["due_date"].isoformat() if L["due_date"] else None,
            "currency": L["currency"] or S["currency"] or "CHF",
            "total_ht": str(_dec(L["total_ht"]) or _dec(S["total_ht"]) or Decimal("0.00")),
            "tva": str(_dec(L["tva"]) or _dec(S["tva"]) or Decimal("0.00")),
            "total_ttc": str(ttc),
            "amount_due": str(ttc),
            "siret": B["siret"],
            "vat_number": B["vat_number"],
            "supplier_name": L["supplier_name"] or "Fournisseur Inconnu",
            "company_erp_code": L["company_erp_code"] or "SITSE",
            "email": L["email"],
            "phone": L["phone"],
            "line_items": (json.dumps(B["line_items"], ensure_ascii=False, separators=(",", ":"))
                           if B["line_items"] else None),
            "confidence": float(B["confidence"]),
            "raw_text": (span["content"] or "")[:assemble.RAW_TEXT_LIMIT],
        })
    return pd.DataFrame.from_records(rows, columns=assemble.FIELDS_COLUMNS)


def _resolved_synth(n_docs: int) -> pd.DataFrame:
    rows = []
    for i in range(n_docs):
        d, media = synth.gen_doc(i)
        payloads = {m["media_ref"]: m["payload"] for m in media}
        rows += [{**s, "doc_id": d["doc_id"], "payload": payloads.get(s["media_ref"])}
                 for s in d["spans"]]
    return assemble.resolve_batch(pd.DataFrame.from_records(rows))


def _resolved_texts(texts: list[str]) -> pd.DataFrame:
    return pd.DataFrame({"doc_id": [f"c{i}" for i in range(len(texts))], "kind": "text",
                         "media_ref": "", "offset": range(len(texts)), "content": texts})


@pytest.fixture
def swiss_calls(monkeypatch):
    """Span counts of each swiss.extract call fields_batch makes."""
    calls = []

    def spy(texts):
        calls.append(len(texts))
        return _SWISS_EXTRACT(texts)

    monkeypatch.setattr(swiss, "extract", spy)
    return calls


@pytest.fixture(scope="module")
def synth_resolved():
    return _resolved_synth(100)


@pytest.mark.parametrize("as_of_date", [assemble.DEFAULT_AS_OF, None])
def test_lazy_swiss_equals_eager_lattice_on_synth_docs(synth_resolved, swiss_calls, as_of_date):
    got = assemble.fields_batch(synth_resolved, as_of_date=as_of_date,
                                companies=COMPANIES, suppliers=SUPPLIERS)
    want = _eager_fields(synth_resolved, as_of_date, COMPANIES, SUPPLIERS)
    pd.testing.assert_frame_equal(got, want)
    assert len(swiss_calls) == 1 and 0 < swiss_calls[0] < len(synth_resolved)


def test_each_swiss_fallback_wins_where_its_llm_slot_is_falsy(swiss_calls):
    # the first three spans have one falsy LLM slot each, the last none:
    # no LLM date (year < 2000), LLM tva 0.00 (= ttc - ht), no LLM amounts
    resolved = _resolved_texts([
        "Date : 15 mars 1999 facture 4711 TOTAL HT 100.00 TVA 7.70 TOTAL TTC 107.70",
        "Facture 4711 du 01/02/2025 TOTAL TTC 100.00 TOTAL HT 100.00 TVA à 0% : CHF 7.70",
        "Facture 4711 du 01/02/2025 Montant CHF 12.50",
        "Facture N° 123 du 01/02/2025 TOTAL HT 100.00 TVA 7.70 TOTAL TTC 107.70 CHF",
    ])
    got = assemble.fields_batch(resolved, as_of_date=None)
    pd.testing.assert_frame_equal(got, _eager_fields(resolved, None))
    assert got["invoice_date"].tolist()[0] == "1999-03-15"
    assert got["tva"].tolist()[1] == "7.70"
    assert got["total_ttc"].tolist()[2] == "12.50"
    assert swiss_calls == [3]


def test_batch_needing_no_swiss_skips_the_family(swiss_calls):
    resolved = _resolved_texts(
        [f"Facture N° {n} du 01/02/2025 TOTAL HT 100.00 TVA 7.70 TOTAL TTC 107.70 CHF"
         for n in (11, 12, 13)])
    got = assemble.fields_batch(resolved)
    pd.testing.assert_frame_equal(got, _eager_fields(resolved, assemble.DEFAULT_AS_OF))
    assert swiss_calls == []


def test_spans_no_family_matches(swiss_calls):
    resolved = _resolved_texts(["", " \n\t\u00a0 ", "\x00\x07\x1f\x7f\x9f", "abc"])
    for as_of_date in (assemble.DEFAULT_AS_OF, None):
        got = assemble.fields_batch(resolved, as_of_date=as_of_date)
        pd.testing.assert_frame_equal(got, _eager_fields(resolved, as_of_date))
        assert set(got["total_ttc"]) == {"0.00"} and got["line_items"].isna().all()
    assert swiss_calls == [4, 4]


def test_first_company_with_empty_erp_code_falls_back_to_sitse():
    companies = [{"erp_code": "", "name": "Nobody Holding"}, *COMPANIES]
    resolved = _resolved_texts(["abc", f"Facture 17 {COMPANIES[0]['erp_code']} TOTAL TTC 10.00"])
    got = assemble.fields_batch(resolved, companies=companies, suppliers=SUPPLIERS)
    want = _eager_fields(resolved, assemble.DEFAULT_AS_OF, companies, SUPPLIERS)
    pd.testing.assert_frame_equal(got, want)
    assert got["company_erp_code"].tolist() == ["SITSE", COMPANIES[0]["erp_code"]]


def test_basic_extract_is_the_record_columns_the_lattice_reads(goldens, synth_resolved):
    for texts in (pd.Series([e["text"] for e in goldens.values()]), synth_resolved["content"]):
        got = basic.extract(texts)
        assert list(got.columns) == ["line_items", "siret", "vat_number", "confidence"]
        pd.testing.assert_frame_equal(got, basic.extract_record(texts)[got.columns])


def test_empty_batch(swiss_calls):
    resolved = _resolved_texts([])
    got = assemble.fields_batch(resolved)
    assert got.empty and list(got.columns) == assemble.FIELDS_COLUMNS
    pd.testing.assert_frame_equal(got, _eager_fields(resolved, assemble.DEFAULT_AS_OF))
    assert swiss_calls == []
