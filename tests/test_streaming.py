"""Streaming surface: the batch pipeline's FIELDS dataflow under
Structured Streaming must produce the identical span output as the batch
pipeline (SURVEY.md §2.9 drop-in claim), through the manifest-checkpointed
sink."""

from __future__ import annotations

from ocr_spark.corpus import COMPANIES, SUPPLIERS
from ocr_spark.schemas import MEDIA
from ocr_spark.sources.manifests import read_committed
from ocr_spark.streaming.pipeline import run_stream
from ocr_spark.synth import expected_spans, write_synth, synth_frames

N_DOCS = 50


def test_stream_matches_batch_goldens(spark, tmp_path):
    docs_dir = str(tmp_path / "docs_in")
    write_synth(docs_dir, N_DOCS, docs_per_file=10)  # 5 files → >1 trigger

    _, media_pd = synth_frames(N_DOCS)
    media = spark.createDataFrame(
        [(r["media_ref"], bytearray(r["payload"])) for _, r in media_pd.iterrows()],
        schema=MEDIA,
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_stream(
        spark,
        docs_dir + "/documents",
        media,
        out,
        ckpt,
        companies=COMPANIES,
        suppliers=SUPPLIERS,
        available_now=True,
    )

    committed = read_committed(spark, out)
    got = {
        r["doc_id"]: [
            {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"], "offset": s["offset"]}
            for s in r["spans"]
        ]
        for r in committed.collect()
    }
    expected = dict(expected_spans(N_DOCS, companies=COMPANIES, suppliers=SUPPLIERS))
    assert set(got) == set(expected)
    for doc_id, exp in expected.items():
        assert got[doc_id] == exp, f"stream span mismatch for {doc_id}"


def test_two_streams_same_outdir_no_collision(spark, tmp_path):
    """ADVICE r01 regression: batch ids restart at 0 for a fresh checkpoint
    dir, so a second stream into the same out_dir used to collide on the
    'stream-batch-0' snapshot key and silently drop its buckets.  The
    per-stream snapshot prefix (hash of checkpoint dir) must keep both
    streams' documents committed."""
    out = str(tmp_path / "out")
    totals = 0
    for gen in range(2):
        docs_dir = str(tmp_path / f"docs_{gen}")
        n = 10
        # disjoint doc ranges per stream
        write_synth(docs_dir, n, docs_per_file=5, start=gen * 100)
        _, media_pd = synth_frames(n, start=gen * 100)
        media = spark.createDataFrame(
            [(r["media_ref"], bytearray(r["payload"])) for _, r in media_pd.iterrows()],
            schema=MEDIA,
        )
        run_stream(
            spark, docs_dir + "/documents", media, out,
            str(tmp_path / f"ckpt_{gen}"),
            companies=COMPANIES, suppliers=SUPPLIERS, available_now=True,
        )
        totals += n
    assert read_committed(spark, out).count() == totals


def test_stream_restart_is_idempotent(spark, tmp_path):
    """Second availableNow run over the same checkpoint is a no-op."""
    docs_dir = str(tmp_path / "docs_in")
    write_synth(docs_dir, 20, docs_per_file=10)
    _, media_pd = synth_frames(20)
    media = spark.createDataFrame(
        [(r["media_ref"], bytearray(r["payload"])) for _, r in media_pd.iterrows()],
        schema=MEDIA,
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    args = (spark, docs_dir + "/documents", media, out, ckpt)
    kw = dict(companies=COMPANIES, suppliers=SUPPLIERS, available_now=True)
    run_stream(*args, **kw)
    n1 = read_committed(spark, out).count()
    run_stream(*args, **kw)  # restart from the same checkpoint: no new files
    n2 = read_committed(spark, out).count()
    assert n1 == n2 == 20

