"""Streaming sketch state: after draining a multi-micro-batch stream,
the committed CMS / histogram state equals the batch sketch over the
whole input (the cell-wise merge property, exercised across batch
boundaries), and a re-run of the drained stream leaves state untouched
(idempotent replays)."""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from ocr_spark.operators import dedup
from ocr_spark.operators.sketch import cms_sketch, hist_bins
from ocr_spark.streaming.sketch import (
    maintained_stats_writer,
    read_head,
    read_sketch_state,
)

SF_DIR = "/root/testdata/sf0.001"
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _write_batched(spark, tmp_path, n_files=5):
    src = str(tmp_path / "stream_src")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.withColumn("_b", F.col("doc_id") % n_files).repartition(
        n_files, "_b"
    ).drop("_b").write.mode("overwrite").parquet(src)
    return src, docs


def _tokens(df):
    return (
        df.select(dedup.normalized(F.col("text")).alias("_n"))
        .select(F.explode_outer(F.split("_n", " ")).alias("v"))
        .filter(F.col("v") != "")
    )


def _drain(writer, ckpt):
    q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    assert q.awaitTermination(600), "streaming query did not drain in time"


def test_cms_stream_equals_batch_and_replay_is_noop(spark, tmp_path):
    src, docs = _write_batched(spark, tmp_path)
    state = str(tmp_path / "cms_state")
    stream = (
        spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    _drain(
        maintained_stats_writer(_tokens(stream), {state: lambda b: cms_sketch(b, "v")}),
        str(tmp_path / "ck1"),
    )
    head = read_head(state)
    assert head is not None and head["last_batch_id"] >= 2  # several batches merged
    got = {(r.r, r.b): r.cnt for r in read_sketch_state(spark, state).collect()}
    want = {(r.r, r.b): r.cnt for r in cms_sketch(_tokens(docs), "v").collect()}
    assert got == want
    # drained stream re-run: no new batches, state unchanged
    _drain(
        maintained_stats_writer(_tokens(stream), {state: lambda b: cms_sketch(b, "v")}),
        str(tmp_path / "ck1"),
    )
    assert read_head(state) == head


def test_hist_stream_equals_batch(spark, tmp_path):
    src, docs = _write_batched(spark, tmp_path)
    state = str(tmp_path / "hist_state")
    stream = (
        spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    _drain(
        maintained_stats_writer(
            stream, {state: lambda b: hist_bins(b, "n_chars", 0.0, 20000.0, 50)}
        ),
        str(tmp_path / "ck2"),
    )
    got = {r.b: r.cnt for r in read_sketch_state(spark, state).collect()}
    want = {r.b: r.cnt for r in hist_bins(docs, "n_chars", 0.0, 20000.0, 50).collect()}
    assert got == want


def test_replayed_batch_id_is_skipped(spark, tmp_path):
    """Direct contract check: merging the same batch id twice counts once."""
    from ocr_spark.streaming.sketch import _merge_stats

    df = spark.createDataFrame([("a",), ("b",), ("a",)], "v string")
    state = str(tmp_path / "replay_state")
    build = lambda b: cms_sketch(b, "v", depth=2, width=16)
    _merge_stats(df, 0, {state: build})
    once = {(r.r, r.b): r.cnt for r in read_sketch_state(spark, state).collect()}
    _merge_stats(df, 0, {state: build})  # replay
    again = {(r.r, r.b): r.cnt for r in read_sketch_state(spark, state).collect()}
    assert once == again
    _merge_stats(df, 1, {state: build})  # genuinely new batch
    doubled = {(r.r, r.b): r.cnt for r in read_sketch_state(spark, state).collect()}
    assert doubled == {k: 2 * v for k, v in once.items()}


def test_crash_between_state_commits_replays_only_the_missing_state(spark, tmp_path):
    """One query, two states: the second state's build raises on batch 1
    after the first state has committed it. The restarted query replays
    batch 1; the first state skips it (its HEAD already holds it), the
    second merges it, and both end equal to their batch builds — no state
    misses the batch and none counts it twice."""
    src, docs = _write_batched(spark, tmp_path)
    cms_state = str(tmp_path / "cms_state")
    hist_state = str(tmp_path / "hist_state")
    hist_calls = []

    def hist_build(b):
        hist_calls.append(1)  # foreachBatch runs builds on the driver
        if len(hist_calls) == 2:  # batch 0 was call 1, so this is batch 1
            raise RuntimeError("injected crash between state commits")
        return hist_bins(b, "n_chars", 0.0, 20000.0, 50)

    stats = {
        cms_state: lambda b: cms_sketch(_tokens(b), "v"),
        hist_state: hist_build,
    }

    def start():
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            maintained_stats_writer(stream, stats)
            .option("checkpointLocation", str(tmp_path / "ck_crash"))
            .trigger(availableNow=True)
            .start()
        )

    with pytest.raises(StreamingQueryException, match="injected crash"):
        start().awaitTermination(600)
    assert read_head(cms_state)["last_batch_id"] == 1  # committed before the crash
    assert read_head(hist_state)["last_batch_id"] == 0  # missed batch 1

    assert start().awaitTermination(600), "streaming query did not drain in time"
    last = read_head(cms_state)["last_batch_id"]
    assert last == read_head(hist_state)["last_batch_id"] and last >= 2

    got_cms = {(r.r, r.b): r.cnt for r in read_sketch_state(spark, cms_state).collect()}
    want_cms = {(r.r, r.b): r.cnt for r in cms_sketch(_tokens(docs), "v").collect()}
    assert got_cms == want_cms
    got_hist = {r.b: r.cnt for r in read_sketch_state(spark, hist_state).collect()}
    want_hist = {r.b: r.cnt for r in hist_bins(docs, "n_chars", 0.0, 20000.0, 50).collect()}
    assert got_hist == want_hist


def test_reservoir_stream_equals_batch_and_replay_is_noop(spark, tmp_path):
    from ocr_spark.operators.curation import weighted_sample
    from ocr_spark.streaming.sketch import (
        read_reservoir_state,
        reservoir_stream_writer,
    )

    src, docs = _write_batched(spark, tmp_path)
    state = str(tmp_path / "res_state")
    stream = (
        spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    _drain(
        reservoir_stream_writer(stream, 25, "n_chars", state),
        str(tmp_path / "ck_res"),
    )
    head = read_head(state)
    assert head is not None and head["last_batch_id"] >= 2  # crossed batch boundaries
    got = {r["doc_id"] for r in read_reservoir_state(spark, state).collect()}
    want = {r["doc_id"] for r in weighted_sample(docs, 25, "n_chars").collect()}
    assert got == want and len(got) == 25
    # drained stream re-run: no new batches, state untouched
    _drain(
        reservoir_stream_writer(stream, 25, "n_chars", state),
        str(tmp_path / "ck_res"),
    )
    assert read_head(state) == head


def test_group_cap_stream_equals_batch_and_replay_is_noop(spark, tmp_path):
    from ocr_spark.operators.curation import cap_per_group
    from ocr_spark.streaming.sketch import (
        group_cap_stream_writer,
        read_sketch_state,
    )

    src, docs = _write_batched(spark, tmp_path)
    state = str(tmp_path / "cap_state")
    stream = (
        spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    _drain(
        group_cap_stream_writer(stream, "source", 5, state),
        str(tmp_path / "ck_cap"),
    )
    head = read_head(state)
    assert head is not None and head["last_batch_id"] >= 2
    got = {
        (r["source"], r["doc_id"])
        for r in read_sketch_state(spark, state).collect()
    }
    want = {
        (r["source"], r["doc_id"])
        for r in cap_per_group(docs, "source", 5).collect()
    }
    assert got == want and len(got) > 0
    # every group capped
    per_group = {}
    for g, _ in got:
        per_group[g] = per_group.get(g, 0) + 1
    assert max(per_group.values()) <= 5
    # drained stream re-run: state untouched
    _drain(
        group_cap_stream_writer(stream, "source", 5, state),
        str(tmp_path / "ck_cap"),
    )
    assert read_head(state) == head
