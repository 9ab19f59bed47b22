"""Streaming surface: the batch pipeline's FIELDS dataflow under
Structured Streaming must produce the identical span output as the batch
pipeline (SURVEY.md §2.9 drop-in claim), through the manifest-checkpointed
sink."""

from __future__ import annotations

import pytest

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


def test_streaming_dedup_matches_batch(spark, tmp_path):
    """Stateful dropDuplicates on the canonical fingerprint suppresses
    duplicates ACROSS micro-batches (first arrival wins) and matches the
    batch exact_dedup survivor set on arrival-ordered input."""
    import pathlib

    from ocr_spark.operators.dedup import exact_dedup
    from ocr_spark.streaming.dedup import dedup_stream

    texts = ["alpha doc", "beta  doc", "ALPHA DOC", "gamma", "alpha   doc", "beta doc"]
    rows = [(i, t) for i, t in enumerate(texts)]
    stream_dir = str(tmp_path / "dedup_in")
    pathlib.Path(stream_dir).mkdir()
    for i, row in enumerate(rows):  # one doc per file → one per micro-batch
        spark.createDataFrame([row], "doc_id long, text string").coalesce(1).write.parquet(
            f"{stream_dir}/f={i}"
        )
    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir + "/f=*")
    )
    seen: list[tuple[int, str]] = []

    def sink(batch_df, _bid):
        seen.extend((r["doc_id"], r["fp"]) for r in batch_df.collect())

    q = (
        dedup_stream(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    expected = {r["doc_id"] for r in exact_dedup(batch).collect()}
    assert {d for d, _ in seen} == expected  # {0: alpha, 1: beta, 3: gamma}
    assert len({fp for _, fp in seen}) == len(seen)  # one survivor per fp


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization drained over time-ordered
    files must equal the batch sessionize aggregate (same 30-min gap)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ocr_spark.queries import q_sessionize
    from ocr_spark.streaming.sessions import sessionize_stream

    sf_dir = "/root/testdata/sf0.001"
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    # time-ordered files → per-user in-order arrival across micro-batches
    stream_dir = str(tmp_path / "events_stream")
    ev = events.toPandas().sort_values(["ts", "event_id"]).reset_index(drop=True)
    import pathlib

    pathlib.Path(stream_dir).mkdir()
    n_files = 5
    for i in range(n_files):
        chunk = ev.iloc[i * len(ev) // n_files : (i + 1) * len(ev) // n_files]
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(
            f"{stream_dir}/part={i}"
        )
    src = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir + "/part=*")
    )
    latest: dict[int, tuple[int, int]] = {}

    def sink(batch_df, _batch_id):
        for r in batch_df.collect():
            latest[r["user_id"]] = (r["n_sessions"], r["n_events"])

    q = (
        sessionize_stream(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_sessions"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    expected = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in q_sessionize(spark, sf_dir).collect()
    }
    assert latest == expected


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


def test_sessionize_state_ttl_expires_idle_users(spark, tmp_path):
    """ADVICE r02: sessionize_stream(state_ttl_seconds=...) must bound the
    state store — an idle user's state expires (ProcessingTimeTimeout;
    the engine schedules expiry batches on its own while the query runs)
    and a later return restarts their counters, while an active user's
    state survives.  The sink dict is polled: under processing-time
    timeouts the engine re-batches continuously, so neither availableNow
    nor processAllAvailable ever reports idle."""
    import pathlib
    import time

    import pandas as pd

    from ocr_spark.streaming.sessions import sessionize_stream

    stream_dir = str(tmp_path / "ev")
    pathlib.Path(stream_dir).mkdir()
    schema = "user_id bigint, ts timestamp, event_id bigint"

    def write_phase(i: int, rows):
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["user_id", "ts", "event_id"]), schema
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{stream_dir}/part={i}")

    def wait_for(pred, secs=90):
        deadline = time.monotonic() + secs
        while time.monotonic() < deadline:
            if pred():
                return True
            time.sleep(0.2)
        return False

    t0 = pd.Timestamp("2026-01-01 00:00:00")
    latest: dict[int, tuple[int, int]] = {}

    def sink(batch_df, _bid):
        for r in batch_df.collect():
            latest[r["user_id"]] = (r["n_sessions"], r["n_events"])

    write_phase(0, [(1, t0, 1), (1, t0 + pd.Timedelta(hours=1), 2),
                    (2, t0, 3), (2, t0 + pd.Timedelta(hours=1), 4)])
    src = spark.readStream.schema(schema).parquet(stream_dir + "/part=*")
    q = (
        sessionize_stream(src, state_ttl_seconds=10)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .start()
    )
    try:
        assert wait_for(lambda: latest.get(1) == (2, 2) and latest.get(2) == (2, 2)), latest

        # user 1 comes back WITHIN the TTL: state must have survived
        time.sleep(4)
        write_phase(1, [(1, t0 + pd.Timedelta(hours=2), 5)])
        assert wait_for(lambda: latest.get(1) == (3, 3)), latest

        # user 2 has now idled well past the TTL (engine-scheduled expiry
        # batches drop its state); its return restarts counters from zero
        time.sleep(15)
        write_phase(2, [(2, t0 + pd.Timedelta(hours=3), 6)])
        assert wait_for(lambda: latest.get(2) == (1, 1)), (
            latest, "expired state must not resume old totals")
    finally:
        q.stop()
