"""Partition-order independence (SURVEY.md §5.4 item 4): identical span
output regardless of partition count or salt — guards against any
partition-order leakage into results."""

from __future__ import annotations

import pytest

from ocr_spark.corpus import COMPANIES, SUPPLIERS
from ocr_spark.operators.extract import build_pipeline
from ocr_spark.schemas import DOCUMENTS, MEDIA
from ocr_spark.synth import synth_frames

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


def _spans_by_doc(extracted_rows):
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in extracted_rows
    }


def test_output_independent_of_partitioning(spark, synth_dfs):
    docs, media = synth_dfs
    variants = [
        {"num_partitions": 2, "salt": 0},
        {"num_partitions": 8, "salt": 0},
        {"num_partitions": 8, "salt": 7},
    ]
    outputs = []
    for v in variants:
        frames = build_pipeline(
            spark, docs, media, companies=COMPANIES, suppliers=SUPPLIERS, **v
        )
        try:
            outputs.append(_spans_by_doc(frames.extracted_spans.collect()))
        finally:
            frames.unpersist()
    assert outputs[0] == outputs[1] == outputs[2]


def test_invoices_independent_of_partitioning(spark, synth_dfs):
    docs, media = synth_dfs
    frames = []
    for v in ({"num_partitions": 2}, {"num_partitions": 8, "salt": 3}):
        pipeline = build_pipeline(
            spark, docs, media, companies=COMPANIES, suppliers=SUPPLIERS, **v
        )
        try:
            frames.append(
                pipeline.invoices.toPandas().sort_values("invoice_id").reset_index(drop=True)
            )
        finally:
            pipeline.unpersist()
    assert frames[0].equals(frames[1])
