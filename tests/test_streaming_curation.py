"""Streaming curation drop-ins: stream output must equal the batch
operators row-for-row, across micro-batch boundaries."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_spark.operators import curation
from ocr_spark.streaming.curation import decontaminate_stream

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


def test_decontaminate_stream_equals_batch(spark, tmp_path):
    src, docs = _write_batched(spark, tmp_path)
    bench = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1_000_000).alias("bench_id"), "text"
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = _run_stream(
        spark, decontaminate_stream(stream, bench), tmp_path, "decon_stream"
    )
    want = curation.decontaminate(docs, bench, min_hits=1)
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in want.collect()
    )
    # schema passes through untouched (minus nothing)
    assert set(got.columns) == set(docs.columns)


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


def test_incremental_dup_spans_loop_end_to_end(spark, tmp_path):
    """The dup-span statistic as a maintained table: the n-gram window
    counts absorb deliveries on the stream; when a new delivery lands,
    dup_spans_apply reports ONLY its documents' duplicated spans against
    the frozen state — equal to the full-batch dup_spans over everything
    delivered so far, restricted to those docs. No corpus rescan, the
    same incremental split hashed_tfidf_apply proves for embeddings."""
    from ocr_spark.streaming.sketch import maintained_stats_writer, read_sketch_state

    src, docs = _write_batched(spark, tmp_path)
    state = str(tmp_path / "ngram_state_e2e")
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        maintained_stats_writer(
            stream, {state: lambda b: curation.ngram_window_counts(b, n=8)}
        )
        .option("checkpointLocation", str(tmp_path / "ck_ngram_e2e"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "streaming query did not drain in time"

    state_df = read_sketch_state(spark, state)
    # state equals the batch statistic over everything committed
    got_stats = {r["wh"]: r["cnt"] for r in state_df.collect()}
    want_stats = {
        r["wh"]: r["cnt"] for r in curation.ngram_window_counts(docs, n=8).collect()
    }
    assert got_stats == want_stats

    # "the new delivery": one of the five streamed file-batches
    arrivals = docs.filter(F.col("doc_id") % 5 == 4)
    assert arrivals.count() > 0
    key = ("doc_id", "span_start", "span_end", "span_len", "span_text")
    inc = sorted(
        tuple(r[k] for k in key)
        for r in curation.dup_spans_apply(arrivals, state_df, n=8).collect()
    )
    rebuild = sorted(
        tuple(r[k] for k in key)
        for r in curation.dup_spans(docs, n=8)
        .join(arrivals.select("doc_id"), "doc_id")
        .collect()
    )
    assert inc == rebuild and len(inc) > 0


def test_fp_state_feeds_source_overlap(spark, tmp_path):
    """The maintained (src, fp) state after draining equals batch
    source_overlap over the full committed input — the overlap audit as
    a warm statistic, never a corpus rescan."""
    from ocr_spark.operators import curation
    from ocr_spark.streaming.curation import fp_stats, source_overlap_from_state
    from ocr_spark.streaming.sketch import maintained_stats_writer, read_head

    rows = []
    # two "crawls" sharing half their content + a disjoint third source
    for i in range(20):
        rows.append((i, f"shared text {i % 10}", "crawlA"))
        rows.append((100 + i, f"shared text {i % 10}" if i < 10 else f"only b {i}", "crawlB"))
        rows.append((200 + i, f"only c {i}", "crawlC"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    src = str(tmp_path / "src")
    docs.withColumn("_b", F.col("doc_id") % 4).repartition(4, "_b").drop(
        "_b"
    ).write.mode("overwrite").parquet(src)

    state = str(tmp_path / "fp_state")
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        maintained_stats_writer(stream, {state: fp_stats})
        .option("checkpointLocation", str(tmp_path / "ck_fp"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "streaming query did not drain in time"
    assert read_head(state)["last_batch_id"] >= 1  # crossed batch bounds

    got = {
        (r["source_a"], r["source_b"]): (r["n_shared"], r["n_a"], r["n_b"])
        for r in source_overlap_from_state(spark, state).collect()
    }
    want = {
        (r["source_a"], r["source_b"]): (r["n_shared"], r["n_a"], r["n_b"])
        for r in curation.source_overlap(docs).collect()
    }
    assert got == want and ("crawlA", "crawlB") in got
    assert got[("crawlA", "crawlB")][0] == 10


def test_source_stats_stream_equals_batch_mixture(spark, tmp_path):
    from ocr_spark.streaming.curation import mixture_plan_from_state, source_stats
    from ocr_spark.streaming.sketch import maintained_stats_writer, read_head

    src, docs = _write_batched(spark, tmp_path)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "mix_state")
    q = (
        maintained_stats_writer(stream, {state: source_stats})
        .option("checkpointLocation", str(tmp_path / "ck_mix"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "streaming query did not drain in time"
    assert read_head(state)["last_batch_id"] >= 1  # crossed batch bounds

    got = sorted(
        map(
            tuple,
            mixture_plan_from_state(
                spark, state, token_budget=1_000_000, temperature=0.7
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            curation.domain_mixture(
                docs, token_budget=1_000_000, temperature=0.7
            ).collect(),
        )
    )
    assert got == want and len(got) > 1
