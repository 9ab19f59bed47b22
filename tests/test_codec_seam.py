"""Real-codec drop-in seam proof (VERDICT r01 #10): a "real" backend
(stand-ins for pdfminer.six / cv2) registered as a Spark job property is
picked up by the UNCHANGED pipeline — non-SPDF/non-FAKEIMG payloads flow
through the full mapInPandas stages and come back decoded by the backend.
"""

from __future__ import annotations

import pandas as pd
import pytest

from ocr_spark.corpus import COMPANIES, SUPPLIERS
from ocr_spark.kernel import assemble, pdfdoc
from ocr_spark.operators.extract import build_pipeline
from ocr_spark.operators.multimodal import media_features, set_image_backend
from ocr_spark.schemas import DOCUMENTS, MEDIA

FAKE_PDF = b"%PDF-1.4 not-spdf payload xyz"
FAKE_JPG = b"\xff\xd8\xff\xe0 jpeg-ish bytes"


def _docs(spark):
    rows = [
        (
            "doc-real",
            [
                {"kind": "text", "text": "TOTAL TTC 600.00", "media_ref": "", "offset": 0},
                {"kind": "pdf", "text": None, "media_ref": "media://pdf/real", "offset": 1},
                {"kind": "image", "text": None, "media_ref": "media://img/real", "offset": 2},
            ],
        )
    ]
    docs = spark.createDataFrame(rows, schema=DOCUMENTS)
    media = spark.createDataFrame(
        [("media://pdf/real", bytearray(FAKE_PDF)), ("media://img/real", bytearray(FAKE_JPG))],
        schema=MEDIA,
    )
    return docs, media


def test_kernel_seam_via_env(monkeypatch):
    """Kernel level: env-var registration routes non-SPDF / non-FAKEIMG
    payloads to the backend (no Spark involved — the same code path the
    worker executes)."""
    monkeypatch.setenv(pdfdoc.BACKEND_ENV, "tests.fake_backends:parse_pdf")
    monkeypatch.setenv(assemble.IMAGE_BACKEND_ENV, "tests.fake_backends:decode_image")
    pages = pdfdoc.parse_pages(FAKE_PDF)
    assert pages[0][1].startswith("REALPDF page1") and pages[1] == (2, "REALPDF page2")
    out = assemble.resolve_content("pdf", None, FAKE_PDF)
    assert "REALPDF page1" in out and "REALPDF page2" in out
    assert assemble.resolve_content("image", None, FAKE_JPG).startswith("REALOCR")


def test_kernel_seam_absent_backend_still_raises(monkeypatch):
    monkeypatch.delenv(pdfdoc.BACKEND_ENV, raising=False)
    with pytest.raises(NotImplementedError):
        pdfdoc.parse_pages(FAKE_PDF)


def test_pipeline_seam_end_to_end(spark):
    """Full pipeline with backends registered as job-local properties: the
    pdf/image spans decode through the injected backends with ZERO
    pipeline change — the drop-in claim, executed."""
    docs, media = _docs(spark)
    pdfdoc.set_pdf_backend(spark, "tests.fake_backends:parse_pdf")
    set_image_backend(spark, "tests.fake_backends:decode_image")
    try:
        frames = build_pipeline(
            spark, docs, media, companies=COMPANIES, suppliers=SUPPLIERS, num_partitions=4
        )
        try:
            extracted_rows = frames.extracted_spans.collect()
        finally:
            frames.unpersist()
        spans = {
            (s["offset"], s["kind"]): s["text"]
            for r in extracted_rows
            for s in r["spans"]
            if s["kind"] == "text"
        }
        assert "REALPDF page1" in spans[(1, "text")]
        assert spans[(2, "text")].startswith("REALOCR")
    finally:
        pdfdoc.set_pdf_backend(spark, None)
        set_image_backend(spark, None)


def test_media_features_seam(spark):
    """multimodal.media_features with a registered image backend decodes a
    real-format payload instead of nulling it."""
    media = spark.createDataFrame([("media://img/x", bytearray(FAKE_JPG))], schema=MEDIA)
    set_image_backend(spark, "tests.fake_backends:decode_image")
    try:
        row = media_features(media).collect()[0]
        assert row["format"] == "real-img"
        assert (row["width"], row["height"]) == (1024, 768)
        assert row["ocr_text"].startswith("REALOCR")
    finally:
        set_image_backend(spark, None)
    # without the backend: nulls, never a task failure
    row = media_features(media).collect()[0]
    assert row["format"] is None and row["ocr_text"] is None
