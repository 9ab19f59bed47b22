"""Span-level content resolution, field extraction, and output assembly.

These batch functions are the single source of truth for the span-sequence
invariant ``(kind, text, media_ref, order)`` (FIXTURES.md §4): the Spark
pipeline (ocr_spark.operators.extract) calls them inside `mapInPandas` /
`applyInPandas` stages, and the e2e tests call them directly on pandas
frames to compute expected outputs.

Per input span, in offset order, the output sequence is:

  1. one normalized-text span  (kind='text', media_ref carried through,
     text = kind-specific normalized content), then
  2. one ``field:<name>`` span per non-null extracted field, in the fixed
     order of :data:`ocr_spark.schemas.FIELD_SPAN_ORDER`, media_ref "".

Field values come from the reference's merge lattice
(/root/reference/src/services/invoice_service.py:249-362): LLM family
first, Swiss family as falsy-fallback, then defaults.  Against a
models.py-provisioned DB the lookups split as follows (FIXTURES.md §5):

* Swiss SUPPLIER query names ``supplier_name``, which does not exist
  (``social_reason`` in database/models.py:42) → fails, returns None
  (swiss_invoice_extractor.py:171-182);
* the LLM COMPANY load names ``erp_code``/``name`` — the columns are
  ``company_erp_code``/``company_name`` (models.py:20-24) → fails
  (llm_enhanced_extractor.py:72-85), so ``find_company`` falls through
  to its always-truthy default;
* Swiss COMPANY (``company_erp_code`` — exists, works,
  swiss_invoice_extractor.py:130-142) therefore NEVER wins the falsy
  coalesce: the LLM slot above it is always truthy.

Net lattice outcome: Swiss dimension lookups contribute nothing, so the
kernel models them as None; our engine instead passes the dims as
explicit parameters (the relational broadcast form), which is what a
fixed deployment would see.
"""

from __future__ import annotations

import json
from datetime import date
from decimal import Decimal

import pandas as pd

from ocr_spark.kernel import basic, htmlx, llm, pdfdoc, swiss, textnorm
from ocr_spark.schemas import FIELD_SPAN_ORDER

DEFAULT_AS_OF = date(2025, 8, 19)  # pipeline as_of_date (FIXTURES.md §5)
IMAGE_MARKER = b"FAKEIMG:"

# real-codec seam for raster payloads (shared with operators/multimodal):
# a backend `module:function` (bytes → feature dict incl. ocr_text) set as
# a Spark job property or env var takes over for non-FAKEIMG payloads.
IMAGE_BACKEND_PROP = "ocr_spark.image_backend"
IMAGE_BACKEND_ENV = "OCR_SPARK_IMAGE_BACKEND"

FIELDS_COLUMNS = [
    "doc_id", "kind", "media_ref", "offset", "norm_text",
    *FIELD_SPAN_ORDER, "confidence", "raw_text",
]

# ml_enhanced_extractor.py:416 — the ML training sink stores the RAW
# resolved text truncated to 10 000 chars ("Limiter la taille"); the
# truncation happens here (not in the sink projection) so the persisted
# FIELDS frame never carries unbounded span text twice.
RAW_TEXT_LIMIT = 10_000
SPAN_ROW_COLUMNS = ["doc_id", "offset", "seq", "kind", "text", "media_ref"]
_SWISS_COLUMNS = ["invoice_number", "invoice_date", "currency", "total_ht", "tva", "total_ttc"]


def resolve_content(kind: str, text: str | None, payload: bytes | None) -> str:
    """Raw text content of a span, before any extractor-family cleaning."""
    if kind in ("text", "ocr"):
        return text or ""
    if kind == "html":
        return htmlx.extract_main_text_one(text or "")
    if kind == "pdf":
        if payload is None:
            return ""
        try:
            return "\n".join(t for _, t in pdfdoc.parse_pages(bytes(payload)))
        except NotImplementedError:
            return ""
    if kind == "image":
        # deterministic stub: real raster decode + OCR needs cv2/tesseract,
        # absent here; synthetic payloads carry a marker with the "OCR" text.
        # A registered real backend (seam above) handles anything else.
        if payload:
            payload = bytes(payload)
            if payload.startswith(IMAGE_MARKER):
                return payload[len(IMAGE_MARKER):].decode("utf-8", errors="replace")
            backend = pdfdoc.resolve_backend(IMAGE_BACKEND_PROP, IMAGE_BACKEND_ENV)
            if backend is not None:
                return str(backend(payload).get("ocr_text") or "")
        return ""
    return text or ""


def resolve_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Add a ``content`` column; drops the payload column."""
    payloads = batch["payload"] if "payload" in batch.columns else [None] * len(batch)
    content = [
        resolve_content(k, t, p)
        for k, t, p in zip(batch["kind"], batch["text"], payloads)
    ]
    out = batch[["doc_id", "kind", "media_ref", "offset"]].copy()
    out["content"] = content
    return out


def split_pdf_pages(batch: pd.DataFrame) -> pd.DataFrame:
    """Oversized-PDF skew mitigation, map side: one row per page.

    Input columns: doc_id, kind, media_ref, offset, payload.
    Output columns: doc_id, kind, media_ref, offset, page_no, page_text.
    """
    out: dict[str, list] = {c: [] for c in (
        "doc_id", "kind", "media_ref", "offset", "page_no", "page_text")}
    for doc_id, kind, media_ref, offset, payload in zip(
        batch["doc_id"], batch["kind"], batch["media_ref"], batch["offset"],
        batch["payload"],
    ):
        pages: list[tuple[int, str]]
        try:
            pages = pdfdoc.parse_pages(bytes(payload)) if payload is not None else []
        except NotImplementedError:
            pages = []
        if not pages:
            pages = [(1, "")]
        for page_no, text in pages:
            out["doc_id"].append(doc_id)
            out["kind"].append(kind)
            out["media_ref"].append(media_ref)
            out["offset"].append(int(offset))
            out["page_no"].append(int(page_no))
            out["page_text"].append(text)
    return pd.DataFrame(out)


def reassemble_pages(group: pd.DataFrame) -> pd.DataFrame:
    """Reduce side of the page split: pages sorted by page_no → content."""
    g = group.sort_values("page_no")
    first = g.iloc[0]
    return pd.DataFrame.from_records(
        [
            {
                "doc_id": first["doc_id"],
                "kind": first["kind"],
                "media_ref": first["media_ref"],
                "offset": int(first["offset"]),
                "content": "\n".join(g["page_text"].fillna("")),
            }
        ]
    )


def normalize_content(kinds: pd.Series, contents: pd.Series, cleaned: pd.Series) -> pd.Series:
    """Kind-specific normalized text for the output 'text' span (batched);
    ``cleaned`` is ``clean_llm(contents)``, the pass the llm family shares."""
    ocr_mask = kinds == "ocr"
    if ocr_mask.any():
        return cleaned.where(~ocr_mask, textnorm.normalize_ocr(contents[ocr_mask]))
    return cleaned


def _dec(v) -> Decimal | None:
    return v if isinstance(v, Decimal) else (None if v is None else Decimal(str(v)))


def fields_batch(
    resolved: pd.DataFrame,
    as_of_date: date = DEFAULT_AS_OF,
    companies: list[dict] | None = None,
    suppliers: list[dict] | None = None,
    emit_raw_text: bool = True,
) -> pd.DataFrame:
    """Resolved span rows → FIELDS_COLUMNS rows (merge lattice applied).

    ``emit_raw_text=False`` leaves the raw_text column null: the column
    roughly doubles the FIELDS row payload (it duplicates the span text
    beside norm_text), and shipping+persisting it measurably throttles
    the flagship at high parallelism (memory bandwidth) — so the
    pipeline only materializes it when an ML-data consumer asked.
    """
    if len(resolved) == 0:
        return pd.DataFrame(columns=FIELDS_COLUMNS)
    contents = resolved["content"].reset_index(drop=True)
    base = resolved.reset_index(drop=True)

    cleaned = textnorm.clean_llm(contents)  # one pass for llm and norm_text
    l = llm.extract(contents, as_of_date=as_of_date, companies=companies,
                    suppliers=suppliers, cleaned=cleaned)
    # Swiss values are read only behind a falsy LLM slot (0.00 is falsy)
    need = [not all(v) for v in zip(*(l[c] for c in _SWISS_COLUMNS))]
    s = swiss.extract(contents[need]) if any(need) else pd.DataFrame(columns=_SWISS_COLUMNS)
    s = s.reindex(contents.index).astype(object).where(lambda d: d.notna(), None)
    b = basic.extract(contents)
    norm = normalize_content(base["kind"], contents, cleaned)

    # column-list iteration, not per-row .iloc views — this runs once per
    # span in the hot path and pandas row views cost ~100 µs each
    # (profiled: ~10 % of the kernel)
    cols = {
        "l_number": l["invoice_number"].tolist(),
        "l_date": l["invoice_date"].tolist(),
        "l_due": l["due_date"].tolist(),
        "l_currency": l["currency"].tolist(),
        "l_ht": l["total_ht"].tolist(),
        "l_tva": l["tva"].tolist(),
        "l_ttc": l["total_ttc"].tolist(),
        "l_company": l["company_erp_code"].tolist(),
        "l_supplier": l["supplier_name"].tolist(),
        "l_email": l["email"].tolist(),
        "l_phone": l["phone"].tolist(),
        "s_number": s["invoice_number"].tolist(),
        "s_date": s["invoice_date"].tolist(),
        "s_currency": s["currency"].tolist(),
        "s_ht": s["total_ht"].tolist(),
        "s_tva": s["tva"].tolist(),
        "s_ttc": s["total_ttc"].tolist(),
        "b_items": b["line_items"].tolist(),
        "b_siret": b["siret"].tolist(),
        "b_vat": b["vat_number"].tolist(),
        "b_conf": b["confidence"].tolist(),
        "doc_id": base["doc_id"].tolist(),
        "kind": base["kind"].tolist(),
        "media_ref": base["media_ref"].tolist(),
        "offset": base["offset"].tolist(),
        "norm": norm.tolist(),
        "content": contents.tolist(),
    }
    rows = []
    for i in range(len(base)):
        # X13 items (basic family, data_extractor.py:304-336) → one
        # deterministic JSON blob (AR3 shape: compact separators, insertion
        # key order, shortest-round-trip floats); None when no items so no
        # field:line_items span is emitted for item-less spans.
        items = cols["b_items"][i]
        items_json = (
            json.dumps(items, ensure_ascii=False, separators=(",", ":"))
            if items else None
        )
        # invoice_service.py:249-263 — LLM number always present (md5 fallback)
        number = cols["l_number"][i] or cols["s_number"][i] or "INV-DEFAULT"
        # :266-277 — LLM date always present (as_of fallback)
        inv_date = cols["l_date"][i] or cols["s_date"][i]
        # :294-309 — LLM customer.name carries the ERP code; Swiss is None
        company = cols["l_company"][i] or "SITSE"
        # :279-292
        supplier = cols["l_supplier"][i] or "Fournisseur Inconnu"
        # :313-321
        currency = cols["l_currency"][i] or cols["s_currency"][i] or "CHF"
        # :323-356 — falsy coalesce (a 0.00 counts as absent), defaults 0.00
        ht = _dec(cols["l_ht"][i]) or _dec(cols["s_ht"][i]) or Decimal("0.00")
        tva = _dec(cols["l_tva"][i]) or _dec(cols["s_tva"][i]) or Decimal("0.00")
        ttc = _dec(cols["l_ttc"][i]) or _dec(cols["s_ttc"][i]) or Decimal("0.00")
        due = cols["l_due"][i]
        rows.append(
            {
                "doc_id": cols["doc_id"][i],
                "kind": cols["kind"][i],
                "media_ref": cols["media_ref"][i] or "",
                "offset": int(cols["offset"][i]),
                "norm_text": cols["norm"][i],
                "invoice_number": number,
                "invoice_date": inv_date.isoformat() if inv_date else None,
                "due_date": due.isoformat() if due else None,
                "currency": currency,
                "total_ht": str(ht),
                "tva": str(tva),
                "total_ttc": str(ttc),
                "amount_due": str(ttc),
                "siret": cols["b_siret"][i],
                "vat_number": cols["b_vat"][i],
                "supplier_name": supplier,
                "company_erp_code": company,
                "email": cols["l_email"][i],
                "phone": cols["l_phone"][i],
                "line_items": items_json,
                "confidence": float(cols["b_conf"][i]),
                "raw_text": (
                    (cols["content"][i] or "")[:RAW_TEXT_LIMIT]
                    if emit_raw_text
                    else None
                ),
            }
        )
    return pd.DataFrame.from_records(rows, columns=FIELDS_COLUMNS)


def spans_from_fields(fields: pd.DataFrame) -> pd.DataFrame:
    """FIELDS_COLUMNS rows → flat output-span rows (SPAN_ROW_COLUMNS).

    The Python reference for the JVM ``operators.extract.
    span_rows_from_fields`` projection that lays out the pipeline's spans:
    ``synth.expected_spans`` (the span-equality and stream==batch oracle)
    composes it after ``fields_batch``. Column-list iteration, not
    iterrows — pandas row views cost ~100 µs each.
    """
    field_kinds = [f"field:{name}" for name in FIELD_SPAN_ORDER]
    field_cols = [fields[name].tolist() for name in FIELD_SPAN_ORDER]
    out: dict[str, list] = {c: [] for c in SPAN_ROW_COLUMNS}
    d_doc, d_off, d_seq = out["doc_id"], out["offset"], out["seq"]
    d_kind, d_text, d_ref = out["kind"], out["text"], out["media_ref"]
    for i, (doc_id, offset, norm_text, media_ref) in enumerate(
        zip(fields["doc_id"], fields["offset"], fields["norm_text"], fields["media_ref"])
    ):
        off = int(offset)
        d_doc.append(doc_id)
        d_off.append(off)
        d_seq.append(0)
        d_kind.append("text")
        d_text.append(norm_text)
        d_ref.append(media_ref or "")
        seq = 1
        for kind, col in zip(field_kinds, field_cols):
            value = col[i]
            if value is None or (isinstance(value, float) and pd.isna(value)):
                continue
            d_doc.append(doc_id)
            d_off.append(off)
            d_seq.append(seq)
            d_kind.append(kind)
            d_text.append(str(value))
            d_ref.append("")
            seq += 1
    return pd.DataFrame(out, columns=SPAN_ROW_COLUMNS)
