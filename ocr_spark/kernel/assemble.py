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

Which family fields the lattice reads, and why only those:

* llm — every FIELDS slot it has. Its number (md5 fallback), currency
  (CHF default) and supplier ("Fournisseur Inconnu" default) are never
  falsy, so the reference's Swiss fallbacks and defaults behind them
  (``INV-DEFAULT``, ``CHF``, the Swiss number and currency) are never
  taken. Its company can be: an empty ``erp_code`` in the first company
  row is the LLM default, and ``SITSE`` stands behind it.
* swiss — only invoice_date (the LLM date is None when ``as_of_date`` is
  None and no date is found) and the three amounts (a ``0.00`` is falsy),
  and only on the spans where one of those LLM slots is falsy.
* basic — line_items, siret, vat_number and confidence; ``basic.extract``
  computes just those four of its 27-field record.
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
# the LLM slots that can be falsy, so the only ones Swiss backs (docstring)
_SWISS_COLUMNS = ["invoice_date", "total_ht", "tva", "total_ttc"]
_ZERO = Decimal("0.00")


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


def _coalesce(first: pd.Series, *rest) -> pd.Series:
    """Falsy coalesce down aligned columns: per row ``first or r1 or ...``,
    as the reference writes it (a ``Decimal("0.00")`` counts as absent); an
    item of ``rest`` may be a scalar default."""
    out = first
    for nxt in rest:
        out = out.where(out.astype(bool), nxt)
    return out


def _iso(dates: pd.Series) -> pd.Series:
    return dates.map(lambda d: d.isoformat() if d else None)


def _items_json(items: list[dict]) -> str | None:
    # X13 items → one deterministic JSON blob (AR3 shape: compact separators,
    # insertion key order, shortest-round-trip floats); None emits no span
    return json.dumps(items, ensure_ascii=False, separators=(",", ":")) if items else None


def fields_batch(
    resolved: pd.DataFrame,
    as_of_date: date = DEFAULT_AS_OF,
    companies: list[dict] | None = None,
    suppliers: list[dict] | None = None,
    emit_raw_text: bool = True,
) -> pd.DataFrame:
    """Resolved span rows → FIELDS_COLUMNS rows (merge lattice applied).

    Column-wise: each output column is a family column or one falsy
    coalesce of several (no per-span loop).
    ``emit_raw_text=False`` leaves the raw_text column null: the column
    roughly doubles the FIELDS row payload (it duplicates the span text
    beside norm_text), and shipping+persisting it measurably throttles
    the flagship at high parallelism (memory bandwidth) — so the
    pipeline only materializes it when an ML-data consumer asked.
    """
    if len(resolved) == 0:
        return pd.DataFrame(columns=FIELDS_COLUMNS)
    base = resolved.reset_index(drop=True)
    contents = base["content"]

    cleaned = textnorm.clean_llm(contents)  # one pass for llm and norm_text
    l = llm.extract(contents, as_of_date=as_of_date, companies=companies,
                    suppliers=suppliers, cleaned=cleaned)
    need = ~l[_SWISS_COLUMNS].astype(bool).all(axis=1)
    s = swiss.extract(contents[need]) if need.any() else pd.DataFrame()
    s = (s.reindex(index=contents.index, columns=_SWISS_COLUMNS).astype(object)
         .where(lambda d: d.notna(), None))
    b = basic.extract(contents)
    ttc = _coalesce(l["total_ttc"], s["total_ttc"], _ZERO).map(str)
    return pd.DataFrame(
        {
            "doc_id": base["doc_id"],
            "kind": base["kind"],
            "media_ref": _coalesce(base["media_ref"], ""),
            "offset": base["offset"].astype("int64"),
            "norm_text": normalize_content(base["kind"], contents, cleaned),
            # invoice_service.py:249-263 and :313-321 — the LLM slot is
            # never falsy, so no fallback is reached (module docstring)
            "invoice_number": l["invoice_number"],
            "invoice_date": _iso(_coalesce(l["invoice_date"], s["invoice_date"])),  # :266-277
            "due_date": _iso(l["due_date"]),
            "currency": l["currency"],
            # :323-356 — falsy coalesce, defaults 0.00
            "total_ht": _coalesce(l["total_ht"], s["total_ht"], _ZERO).map(str),
            "tva": _coalesce(l["tva"], s["tva"], _ZERO).map(str),
            "total_ttc": ttc,
            "amount_due": ttc,
            "siret": b["siret"],
            "vat_number": b["vat_number"],
            "supplier_name": l["supplier_name"],  # :279-292, never falsy
            # :294-309 — an empty erp_code in the first company row (the
            # LLM default) is falsy and falls through to SITSE
            "company_erp_code": _coalesce(l["company_erp_code"], "SITSE"),
            "email": l["email"],
            "phone": l["phone"],
            "line_items": b["line_items"].map(_items_json),
            "confidence": b["confidence"],
            "raw_text": (contents.fillna("").str.slice(stop=RAW_TEXT_LIMIT) if emit_raw_text
                         else [None] * len(base)),
        },
        columns=FIELDS_COLUMNS,
    )


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
