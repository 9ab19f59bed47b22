"""Streaming quality: the row-local repetition/line-dedup operators must
produce the SAME rows on a stream (across micro-batch boundaries) as the
same functions on the full batch input."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_spark.operators import quality
from ocr_spark.operators.quality import dedup_lines, repetition_stats

SF_DIR = "/root/testdata/sf0.001"
SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _write_batched(spark, tmp_path, n_files=5):
    src = str(tmp_path / "stream_src")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
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


def _keyed(rows):
    return {r[0]: tuple(r)[1:] for r in rows}


def test_repetition_stats_stream_equals_batch(spark, tmp_path):
    src, docs = _write_batched(spark, tmp_path)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    got = _run_stream(
        spark, repetition_stats(stream), tmp_path, "repstats_stream"
    ).collect()
    want = quality.repetition_stats(docs).collect()
    assert _keyed(got) == _keyed(want)
    assert len(got) == docs.count()


def test_dedup_lines_stream_equals_batch(spark, tmp_path):
    src, docs = _write_batched(spark, tmp_path)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    got = _run_stream(
        spark, dedup_lines(stream), tmp_path, "dlines_stream"
    ).collect()
    want = quality.dedup_lines(docs).collect()
    assert _keyed(got) == _keyed(want)


def test_unigram_model_score_stream_equals_batch(spark, tmp_path):
    """Scoring under a FIXED unigram model inside foreachBatch: each
    doc's tokens live in one row, so the per-doc agg completes within
    its micro-batch — no state, and the union of batch outputs equals
    the batch operator."""
    src, docs = _write_batched(spark, tmp_path)
    model = quality.unigram_model(docs, vocab_size=150).cache()
    model.count()  # build the artifact once, outside the stream

    got_rows = []

    def sink(batch_df, _bid):
        got_rows.extend(
            quality.score_with_unigram_model(batch_df, model).collect()
        )

    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_lmscore"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "streaming query did not drain in time"

    want = quality.score_with_unigram_model(docs, model).collect()
    g = {r["doc_id"]: (r["n_tok"], round(r["logprob"], 9)) for r in got_rows}
    w = {r["doc_id"]: (r["n_tok"], round(r["logprob"], 9)) for r in want}
    assert g == w and len(g) == docs.count()


def test_bigram_score_stream_equals_batch(spark, tmp_path):
    """The stupid-backoff scorer is the same stateless shape as the
    unigram form: pairs are row-local, both artifact joins broadcast,
    the per-doc agg completes within its micro-batch."""
    src, docs = _write_batched(spark, tmp_path)
    uni = quality.unigram_model(docs, vocab_size=150).cache()
    bi = quality.bigram_model(docs, bigram_size=300).cache()
    uni.count(), bi.count()  # fixed artifacts, built outside the stream

    got_rows = []

    def sink(batch_df, _bid):
        got_rows.extend(
            quality.score_with_bigram_model(batch_df, bi, uni).collect()
        )

    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_bgscore"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "streaming query did not drain in time"

    want = quality.score_with_bigram_model(docs, bi, uni).collect()
    g = {r["doc_id"]: (r["n_pairs"], round(r["logprob"], 9)) for r in got_rows}
    w = {r["doc_id"]: (r["n_pairs"], round(r["logprob"], 9)) for r in want}
    assert g == w and len(g) > 0


def test_remove_boilerplate_stream_equals_batch(spark, tmp_path):
    """The row-local apply form is a stateless streaming drop-in: clean
    a 5-micro-batch stream against a FIXED statistic and match the batch
    anti-join form row-for-row."""
    from ocr_spark.operators.quality import remove_boilerplate_local

    rows = [
        (i, ("footer\n" + ("menu\n" if i % 2 == 0 else "") + f"body {i}"))
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "bps_src")
    docs.withColumn("_b", F.col("doc_id") % 5).repartition(5, "_b").drop(
        "_b"
    ).write.mode("overwrite").parquet(src)
    stats = quality.boilerplate_lines(docs, min_docs=2)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = _run_stream(
        spark,
        remove_boilerplate_local(stream, stats, min_docs=2),
        tmp_path,
        "bp_stream",
    ).collect()
    want = quality.remove_boilerplate(docs, min_docs=2, stats=stats).collect()
    assert _keyed(got) == _keyed(want)
    assert len(got) == 20


def test_bucket_apply_stream_equals_batch(spark, tmp_path):
    """CCNet bucketing as a maintained-artifact apply: FROZEN model head
    + per-language tercile bounds label live deliveries inside
    foreachBatch with no state, no quantile, no corpus rescan — the
    union of batch outputs equals the batch apply over the full input."""
    src, docs = _write_batched(spark, tmp_path)
    model = quality.unigram_model(docs, vocab_size=150).cache()
    model.count()
    bounds = quality.perplexity_bucket_bounds(docs, model).cache()
    bounds.count()

    got_rows = []

    def sink(batch_df, _bid):
        got_rows.extend(
            quality.bucket_with_bounds(batch_df, model, bounds).collect()
        )

    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_buckets"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "streaming query did not drain in time"

    want = quality.bucket_with_bounds(docs, model, bounds).collect()
    g = {r["doc_id"]: (r["lang"], r["lp"], r["bucket"]) for r in got_rows}
    w = {r["doc_id"]: (r["lang"], r["lp"], r["bucket"]) for r in want}
    assert g == w and len(g) == docs.count()
    assert {"head", "middle", "tail"} <= {b for (_l, _p, b) in g.values()}


def test_gopher_rules_stream_equals_batch(spark, tmp_path):
    """gopher_rules is pure row-local column logic -> runs UNCHANGED on
    a streaming frame; rows across micro-batches == one batch pass."""
    from ocr_spark.operators.quality import gopher_rules

    src, docs = _write_batched(spark, tmp_path)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    got = _run_stream(
        spark,
        gopher_rules(stream, min_words=10, min_stop_hits=0),
        tmp_path,
        "gopher_stream",
    ).collect()
    want = gopher_rules(docs, min_words=10, min_stop_hits=0).collect()
    assert _keyed(got) == _keyed(want)
    assert len(got) == docs.count()


def test_c4_clean_stream_equals_batch(spark, tmp_path):
    from ocr_spark.operators.curation import c4_clean

    src, docs = _write_batched(spark, tmp_path)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    got = _run_stream(spark, c4_clean(stream), tmp_path, "c4_stream").collect()
    want = c4_clean(docs).collect()
    assert _keyed(got) == _keyed(want)

