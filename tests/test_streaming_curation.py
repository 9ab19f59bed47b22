"""Streaming curation drop-ins: stream output must equal the batch
operators row-for-row, across micro-batch boundaries."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_spark.operators import curation

SF_DIR = "/root/testdata/sf0.001"
SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _write_batched(spark, tmp_path, n_files=5):
    src = str(tmp_path / "stream_src")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # several files → several micro-batches with maxFilesPerTrigger=1
    docs.withColumn("_b", F.col("doc_id") % n_files).repartition(
        n_files, "_b"
    ).drop("_b").write.mode("overwrite").parquet(src)
    return src, docs


def _run_stream(spark, df, tmp_path, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "streaming query did not drain in time"
    return spark.sql(f"SELECT * FROM {name}")


def test_stateless_ops_run_unchanged_on_streams(spark, tmp_path):
    """redact_pii and stratified_sample are row-local — the SAME operator
    functions must work on a streaming frame with batch-equal output."""
    src, docs = _write_batched(spark, tmp_path)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got_red = _run_stream(spark, curation.redact_pii(stream), tmp_path, "red_stream")
    want_red = {r.doc_id: r.text_redacted for r in curation.redact_pii(docs).collect()}
    assert {r.doc_id: r.text_redacted for r in got_red.collect()} == want_red

    rates = {"en": 0.5, "fr": 1.0}
    got_s = _run_stream(
        spark,
        curation.stratified_sample(stream, rates, default_rate=0.2),
        tmp_path,
        "samp_stream",
    )
    want_s = sorted(
        r.doc_id
        for r in curation.stratified_sample(docs, rates, default_rate=0.2).collect()
    )
    assert sorted(r.doc_id for r in got_s.collect()) == want_s

