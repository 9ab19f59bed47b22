"""End-to-end span-sequence equality: Spark pipeline vs kernel oracle.

The kernel (already golden-tested against executed reference behavior in
test_kernel_goldens.py) computes the expected extracted_spans for each
synthesized document; the Spark pipeline must reproduce them exactly under
the invariant ``(kind, text, media_ref, order)`` — FIXTURES.md §4.
"""

from __future__ import annotations

import pandas as pd
import pytest

from ocr_spark.corpus import COMPANIES, SUPPLIERS
from ocr_spark.operators.extract import build_pipeline
from ocr_spark.schemas import DOCUMENTS, MEDIA
from ocr_spark.synth import expected_spans, synth_frames

N_DOCS = 60


@pytest.fixture(scope="module")
def synth_dfs(spark):
    docs_pd, media_pd = synth_frames(N_DOCS)
    docs = spark.createDataFrame(docs_pd, schema=DOCUMENTS)
    media = spark.createDataFrame(
        [(r["media_ref"], bytearray(r["payload"])) for _, r in media_pd.iterrows()],
        schema=MEDIA,
    )
    return docs, media


@pytest.fixture(scope="module")
def pipeline_out(spark, synth_dfs):
    docs, media = synth_dfs
    frames = build_pipeline(
        spark, docs, media, companies=COMPANIES, suppliers=SUPPLIERS, num_partitions=8
    )
    try:
        return frames.extracted_spans.collect(), frames.invoices.toPandas()
    finally:
        frames.unpersist()


def _expected() -> dict[str, list[dict]]:
    return dict(expected_spans(N_DOCS, companies=COMPANIES, suppliers=SUPPLIERS))


def test_span_sequence_equality(pipeline_out):
    extracted_rows, _ = pipeline_out
    expected = _expected()
    got = {
        r["doc_id"]: [
            {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"], "offset": s["offset"]}
            for s in r["spans"]
        ]
        for r in extracted_rows
    }
    assert set(got) == set(expected)
    for doc_id, exp in expected.items():
        assert got[doc_id] == exp, f"span mismatch for {doc_id}"


def test_invoices_shape_and_determinism(pipeline_out):
    _, invoices = pipeline_out
    # one invoice row per input span
    docs_pd, _ = synth_frames(N_DOCS)
    n_spans = int(docs_pd["spans"].map(len).sum())
    assert len(invoices) == n_spans
    assert invoices["invoice_id"].nunique() == n_spans  # deterministic unique ids
    assert invoices["including_taxes"].notna().all()
    assert set(invoices["currency_code"].unique()) <= {"CHF", "EUR", "USD", "GBP"}


def test_paged_path_span_equality(spark, synth_dfs):
    """The distributed page-split path (north rule skew mitigation) must
    produce byte-identical spans to the single-pass path."""
    docs, media = synth_dfs
    frames = build_pipeline(
        spark, docs, media, companies=COMPANIES, suppliers=SUPPLIERS,
        num_partitions=8, page_split_bytes=64 * 1024,
    )
    try:
        extracted_rows = frames.extracted_spans.collect()
    finally:
        frames.unpersist()
    expected = _expected()
    got = {
        r["doc_id"]: [
            {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"], "offset": s["offset"]}
            for s in r["spans"]
        ]
        for r in extracted_rows
    }
    assert set(got) == set(expected)
    for doc_id, exp in expected.items():
        assert got[doc_id] == exp, f"paged-path span mismatch for {doc_id}"


def test_invoice_goals_and_line_items(spark, synth_dfs):
    """InvoiceDTO completeness (VERDICT r01 #3-missing): goals exist
    exactly for truthy-TTC invoices with amount = including_taxes
    (invoice_service.py:364-389); X13 line items ride as a JSON span and
    an invoices column."""
    import json as _json

    docs, media = synth_dfs
    frames = build_pipeline(
        spark, docs, media, companies=COMPANIES, suppliers=SUPPLIERS, num_partitions=8
    )
    try:
        inv = frames.invoices.toPandas()
        goals = frames.invoice_goals.toPandas()
        truthy = inv[inv["including_taxes"].astype(float) != 0.0]
        assert len(goals) == len(truthy)
        assert len(goals) > 0, "no truthy-TTC invoice in synth corpus — vacuous"
        merged = goals.merge(truthy, on="invoice_id")
        assert (merged["amount"] == merged["including_taxes"]).all()
        assert goals["goal_id"].nunique() == len(goals)
        # DTO constants + document_urls
        assert (inv["payment_state"] == "DRAFT").all()
        assert (~inv["completed"]).all() and inv["draft"].all()
        assert all(urls == [d] for urls, d in zip(inv["document_urls"], inv["doc_id"]))
        # line_items JSON parses and matches the field:line_items spans
        with_items = inv[inv["line_items"].notna()]
        assert len(with_items) > 0, "no line items extracted — vacuous"
        for blob in with_items["line_items"]:
            items = _json.loads(blob)
            assert items and all("amount_excl_vat" in i for i in items)
        span_blobs = [
            s["text"]
            for r in frames.extracted_spans.collect()
            for s in r["spans"]
            if s["kind"] == "field:line_items"
        ]
        assert sorted(span_blobs) == sorted(with_items["line_items"])
    finally:
        frames.unpersist()


def test_single_kernel_execution_for_both_outputs(spark, synth_dfs):
    """r02 fix (VERDICT r01 #3): writing BOTH tables must run the Python
    extraction kernel ONCE.  After the spans output materializes, the
    shared FIELDS frame is fully cached and the invoices job reads
    InMemoryTableScan — no second kernel pass in its executed plan."""
    docs, media = synth_dfs
    frames = build_pipeline(
        spark, docs, media, companies=COMPANIES, suppliers=SUPPLIERS, num_partitions=8
    )
    try:
        frames.extracted_spans.count()  # materializes fields into the cache
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        assert any(i.numCachedPartitions() > 0 for i in infos), "fields not cached"
        frames.invoices.count()
        plan = frames.invoices._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
        # the executed invoice plan on top of the cache contains no second
        # Python stage — the only MapInPandas lives INSIDE the cached
        # relation's replay plan, which a cache hit never executes
        above_cache = plan.split("InMemoryTableScan")[0]
        assert "MapInPandas" not in above_cache, above_cache
    finally:
        frames.unpersist()


def test_paged_invoices_honor_page_split(spark, synth_dfs):
    """ADVICE r01: the invoices output used to silently ignore
    page_split_bytes; the shared-FIELDS pipeline routes both outputs
    through the paged kernel, so invoices must be identical either way."""
    docs, media = synth_dfs
    invoices = []
    for split in (None, 64 * 1024):
        frames = build_pipeline(
            spark, docs, media, companies=COMPANIES, suppliers=SUPPLIERS,
            num_partitions=8, page_split_bytes=split,
        )
        try:
            invoices.append(
                frames.invoices.toPandas().sort_values("invoice_id").reset_index(drop=True)
            )
        finally:
            frames.unpersist()
    base, paged = invoices
    assert base.equals(paged)


def test_ml_data_sink_scores_match_kernel(spark, synth_dfs):
    """The invoice_ml_data projection (ml_enhanced_extractor.py:393-428)
    computes its scores JVM-side; they must equal kernel/ml.py's Python
    scoring functions applied to the same FIELDS values, and the
    extracted_data blob must carry the reference's key set with doc_id as
    the filename analogue and raw_text truncated."""
    import json as _json

    from ocr_spark.kernel import ml as kml
    from ocr_spark.kernel.assemble import RAW_TEXT_LIMIT

    docs, media = synth_dfs
    frames = build_pipeline(
        spark, docs, media, companies=COMPANIES, suppliers=SUPPLIERS,
        num_partitions=8, with_raw_text=True,
    )
    try:
        fields = frames.fields.toPandas()
        ml = frames.ml_data.toPandas()
        assert len(ml) == len(fields)
        assert ml["ml_id"].nunique() == len(ml)
        assert (ml["processing_time"] == 0.0).all()
        assert ml["raw_text"].str.len().max() <= RAW_TEXT_LIMIT
        fields["_key"] = fields["doc_id"] + "|" + fields["offset"].astype(str)
        by_doc_off = fields.set_index("_key")
        import hashlib as _hl

        for _, row in ml.iterrows():
            blob = _json.loads(row["extracted_data"])
            assert set(blob) == {
                "extracted_data", "confidence_score", "processing_time",
                "validation_score", "filename",
            }
            assert blob["filename"] == row["doc_id"]
            f = by_doc_off.loc[
                [k for k in by_doc_off.index
                 if _hl.sha256(f"{k}|ml".encode()).hexdigest() == row["ml_id"]][0]
            ]
            ttc = float(f["total_ttc"]) if f["total_ttc"] is not None else None
            ht = float(f["total_ht"]) if f["total_ht"] is not None else None
            tva = float(f["tva"]) if f["tva"] is not None else None
            inv_date = f["invoice_date"]
            required, quality = kml.validation_score(
                f["invoice_number"], ttc or None, f["supplier_name"], inv_date
            )
            assert row["validation_score"] == quality, (row["ml_id"], quality)
            assert row["data_quality_score"] == quality
            assert bool(row["ml_required_fields_present"]) == required
            assert bool(row["ml_calculation_check"]) == kml.check_calculation_consistency(
                ht, tva, ttc
            )
    finally:
        frames.unpersist()


def test_outputs_built_only_when_read(spark, monkeypatch):
    """Writing spans and invoices builds neither the goals nor the ml_data
    plan; the first read of ``ml_data`` builds it once, with the rows of
    the catalog's ml_training_data golden."""
    from pathlib import Path

    from ocr_spark.operators import extract
    from ocr_spark.queries import _pipeline_frames

    calls = {"ml_data": 0, "invoice_goals": 0}
    for name, fn in (
        ("ml_data", extract.ml_data_from_fields),
        ("invoice_goals", extract.invoice_goals_from_fields),
    ):
        def counted(fields, _name=name, _fn=fn):
            calls[_name] += 1
            return _fn(fields)

        monkeypatch.setattr(extract, f"{name}_from_fields", counted)

    frames = _pipeline_frames(spark, with_raw_text=True)
    try:
        for out in (frames.extracted_spans, frames.invoices):
            out.write.format("noop").mode("overwrite").save()
        assert calls == {"ml_data": 0, "invoice_goals": 0}
        first, second = frames.ml_data, frames.ml_data
        assert first is second
        assert calls == {"ml_data": 1, "invoice_goals": 0}
        got = first.orderBy("ml_id").toPandas()
    finally:
        frames.unpersist()
    golden = pd.read_parquet(
        Path(__file__).parent / "fixtures" / "ml_training_data_golden.parquet"
    )
    pd.testing.assert_frame_equal(got, golden, check_dtype=False)


def test_oversized_pdf_split_covered(synth_dfs):
    """The synth corpus must actually exercise the skew path."""
    _, media = synth_dfs
    sizes = [len(r["payload"]) for r in media.collect()]
    from ocr_spark.operators.extract import OVERSIZE_PAYLOAD_BYTES

    assert any(s > OVERSIZE_PAYLOAD_BYTES for s in sizes), (
        "no oversized payload in synth corpus — raise N_DOCS or pages"
    )


def test_html_main_text_operator_strips_boilerplate(spark):
    from ocr_spark.operators.extract import html_main_text

    html = (
        "<html><head><title>Short t</title><script>var x=1;</script></head>"
        "<body><nav><a href='/'>Home</a> <a href='/a'>Archive</a></nav>"
        "<h2>Quarterly report</h2>"
        "<p>The quarterly revenue grew by twelve percent across "
        "all regions and the board approved the new budget.</p>"
        "<aside><a href='/x'>related one</a> <a href='/y'>related two</a></aside>"
        "<p>tiny</p>"
        "<footer>Copyright 2025</footer></body></html>"
    )
    df = spark.createDataFrame(
        [("doc-x", 0, html), ("doc-y", 1, "")],
        "doc_id string, offset int, html string",
    )
    rows = {r["doc_id"]: r for r in html_main_text(df).collect()}
    out = rows["doc-x"]["main_text"]
    # content kept, heading adopted by the following kept paragraph
    assert "quarterly revenue grew" in out and out.startswith("Quarterly report")
    # boilerplate containers and sub-threshold blocks dropped
    for boiler in ("Home", "Archive", "related one", "Copyright", "tiny", "var x"):
        assert boiler not in out
    assert rows["doc-x"]["main_chars"] == len(out)
    assert rows["doc-y"]["main_text"] == "" and rows["doc-y"]["html_chars"] == 0
