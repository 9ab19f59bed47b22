"""Deterministic synthesis of the interleaved-document tables.

Builds the span-shaped ``documents`` table (BASELINE.json input_hint) plus
the ``media`` payload side-table, per the FIXTURES.md §1 recipe: seed=42
derivations are per-doc (keyed by doc index), so output is independent of
generation order and parallelism; 1–8 spans/doc; ~5 % of pdf docs carry an
oversized multi-page payload (≈100× median) to exercise skew mitigation.

No external data: all text derives from the fixture corpus.
"""

from __future__ import annotations

import hashlib
import os
import re
from typing import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark.corpus import variant_text
from ocr_spark.kernel import pdfdoc
from ocr_spark.kernel.assemble import IMAGE_MARKER

SEED = 42
KINDS = ["text", "text", "text", "ocr", "ocr", "html", "html", "pdf", "image"]
OVERSIZE_EVERY = 20  # every 20th pdf span is a ~100-page monster
NORMAL_PDF_PAGES = 2

_HTML_TEMPLATE = """<html><head><title>{title}</title>
<style>body {{color: black}}</style><script>var x = 1;</script></head>
<body><nav><a href="/">Home</a> <a href="/a">Archive</a> <a href="/b">About</a></nav>
<header><h1>Site header boilerplate banner</h1></header>
<div id="main"><h2>{title}</h2>
{paragraphs}
</div>
<aside><ul><li><a href="/x">related link one</a></li><li><a href="/y">related
link two</a></li></ul></aside>
<footer>Copyright 2025 — <a href="/tos">terms</a> <a href="/priv">privacy</a></footer>
</body></html>"""


def _h(key: str) -> int:
    return int.from_bytes(hashlib.sha256(f"{SEED}:{key}".encode()).digest()[:8], "big")


def _ocr_noise(text: str, salt: int) -> str:
    """Deterministic OCR-ish corruption: hyphenated line breaks mid-word."""
    words = text.split(" ")
    out = []
    for i, w in enumerate(words):
        if len(w) > 7 and (salt + i) % 5 == 0 and w.isalpha():
            cut = 3 + (salt + i) % 3
            out.append(w[:cut] + "-\n" + w[cut:])
        else:
            out.append(w)
    return " ".join(out)


def _paragraphize(text: str) -> str:
    lines = [ln.strip() for ln in text.split("\n") if ln.strip()]
    return "\n".join(f"<p>{ln} — extended with enough prose to pass the density "
                     f"gate of the extractor for synthetic purposes.</p>" for ln in lines)


def _pdf_payload(text: str, pages: int) -> bytes:
    lines = [ln.strip() for ln in text.split("\n") if ln.strip()] or ["(empty)"]
    per_page = max(1, len(lines) // pages + (1 if len(lines) % pages else 0))
    page_runs = []
    for p in range(pages):
        if pages > 4:
            # oversized doc: every page carries the full text twice, so the
            # payload really is ~100× a normal one (skew-test realism)
            chunk = [f"page {p + 1}"] + lines + lines
        else:
            chunk = lines[p * per_page : (p + 1) * per_page]
        if not chunk:
            chunk = [f"page {p + 1} filler line {lines[p % len(lines)]}"]
        runs = []
        y = 800.0
        for ln in chunk:
            # split each line into two runs to exercise x-ordering
            mid = len(ln) // 2
            cut = ln.rfind(" ", 0, mid)
            if cut <= 0:
                runs.append((72.0, y, ln))
            else:
                # intentionally emit the right run first: parser must re-order
                runs.append((300.0, y, ln[cut + 1 :]))
                runs.append((72.0, y, ln[:cut]))
            y -= 14.0
        page_runs.append(runs)
    return pdfdoc.build_payload(page_runs)


def gen_doc(i: int) -> tuple[dict, list[dict]]:
    """Document #i → (documents row, media rows). Pure function of i."""
    doc_id = f"doc-{i:08d}"
    n_spans = 1 + _h(f"{doc_id}:n") % 8
    spans, media = [], []
    for j in range(n_spans):
        salt = _h(f"{doc_id}:{j}")
        kind = KINDS[salt % len(KINDS)]
        _, text = variant_text(salt % 1000)
        offset = j
        if kind == "text":
            spans.append({"kind": "text", "text": text, "media_ref": "", "offset": offset})
        elif kind == "ocr":
            spans.append({"kind": "ocr", "text": _ocr_noise(text, salt), "media_ref": "", "offset": offset})
        elif kind == "html":
            title = f"Invoice bulletin {salt % 997}"
            html = _HTML_TEMPLATE.format(title=title, paragraphs=_paragraphize(text))
            spans.append({"kind": "html", "text": html, "media_ref": "", "offset": offset})
        elif kind == "pdf":
            ref = f"media://{doc_id}/{offset}"
            pages = 96 + salt % 9 if salt % OVERSIZE_EVERY == 0 else NORMAL_PDF_PAGES
            media.append({"media_ref": ref, "payload": _pdf_payload(text, pages)})
            spans.append({"kind": "pdf", "text": "", "media_ref": ref, "offset": offset})
        else:  # image
            ref = f"media://{doc_id}/{offset}"
            media.append({"media_ref": ref, "payload": IMAGE_MARKER + text.encode("utf-8")})
            spans.append({"kind": "image", "text": "", "media_ref": ref, "offset": offset})
    return {"doc_id": doc_id, "spans": spans}, media


def synth_frames(n_docs: int, start: int = 0) -> tuple[pd.DataFrame, pd.DataFrame]:
    docs, media = [], []
    for i in range(start, start + n_docs):
        d, m = gen_doc(i)
        docs.append(d)
        media.extend(m)
    return pd.DataFrame.from_records(docs), pd.DataFrame.from_records(
        media, columns=["media_ref", "payload"]
    )


_ARROW_SPAN = pa.struct(
    [
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), nullable=False),
    ]
)
ARROW_DOCUMENTS = pa.schema([pa.field("doc_id", pa.string(), nullable=False),
                             pa.field("spans", pa.list_(_ARROW_SPAN), nullable=False)])
ARROW_MEDIA = pa.schema([pa.field("media_ref", pa.string(), nullable=False),
                         pa.field("payload", pa.binary())])


def write_synth(out_dir: str, n_docs: int, docs_per_file: int = 2000, start: int = 0) -> str:
    """Write documents/ and media/ parquet datasets; returns out_dir.

    Multiple row-group-sized files so Spark gets real input splits.
    """
    docs_dir = os.path.join(out_dir, "documents")
    media_dir = os.path.join(out_dir, "media")
    os.makedirs(docs_dir, exist_ok=True)
    os.makedirs(media_dir, exist_ok=True)
    for part, off in enumerate(range(0, n_docs, docs_per_file)):
        n = min(docs_per_file, n_docs - off)
        docs, media = synth_frames(n, start=start + off)
        pq.write_table(
            pa.Table.from_pandas(docs, schema=ARROW_DOCUMENTS, preserve_index=False),
            os.path.join(docs_dir, f"part-{part:05d}.parquet"),
        )
        pq.write_table(
            pa.Table.from_pandas(media, schema=ARROW_MEDIA, preserve_index=False),
            os.path.join(media_dir, f"part-{part:05d}.parquet"),
        )
    return out_dir


def expected_spans(
    n_docs: int,
    start: int = 0,
    companies: list[dict] | None = None,
    suppliers: list[dict] | None = None,
) -> Iterator[tuple[str, list[dict]]]:
    """Kernel-side expected extracted_spans for synth docs (test oracle)."""
    from ocr_spark.kernel import assemble

    for i in range(start, start + n_docs):
        d, media = gen_doc(i)
        payloads = {m["media_ref"]: m["payload"] for m in media}
        batch = pd.DataFrame.from_records(
            [
                {
                    "doc_id": d["doc_id"],
                    "kind": s["kind"],
                    "text": s["text"],
                    "media_ref": s["media_ref"],
                    "offset": s["offset"],
                    "payload": payloads.get(s["media_ref"]),
                }
                for s in d["spans"]
            ]
        )
        fields = assemble.fields_batch(
            assemble.resolve_batch(batch), companies=companies, suppliers=suppliers
        )
        out = assemble.spans_from_fields(fields).sort_values(["offset", "seq"])
        yield d["doc_id"], [
            {"kind": r["kind"], "text": r["text"], "media_ref": r["media_ref"], "offset": int(r["offset"])}
            for _, r in out.iterrows()
        ]
