"""Maintained streaming state: additive statistics, reservoirs and
per-group caps kept incrementally under ``foreachBatch``.

Every additive statistic (count-min and histogram sketches, term, line,
label-token, n-gram, fingerprint, source and doc-frequency counts) is a
``cnt`` column summed on matching keys — the property
tests/test_sketch_cms_hist.py pins — so the streaming form needs no
stateful operator at all. :func:`maintained_stats_writer` runs ONE
``foreachBatch`` over the stream: it persists the micro-batch once, sums
each state's ``build(batch)`` into that state's committed snapshot, and
unpersists the batch after the last state commits. A new statistic is a
build function passed to it, never a new writer. State is bounded by the
statistic (depth×width rows for CMS, n_bins for the histogram, the vocab
for term counts), whatever the stream's volume. That sidesteps Spark's
one-aggregation limit on streams (the CMS is a two-level agg) AND gives
restart idempotency: each state's commit pointer records the last batch
id merged into it, so a replayed micro-batch is a no-op for every state
that already has it — the same epoch-guard shape as the manifest sink.

State layout (same plain-filesystem commit protocol as manifests.py —
an object-storage deployment swaps the pointer swap for put-if-absent)::

    <state_dir>/versions/v<batch_id>/   parquet snapshot
    <state_dir>/HEAD                    {"version", "last_batch_id"}

HEAD is replaced by an atomic rename, so readers always see a
complete snapshot; superseded versions stay for a later vacuum.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _head_path(state_dir: str) -> str:
    return os.path.join(state_dir, "HEAD")


def read_head(state_dir: str) -> dict | None:
    path = _head_path(state_dir)
    if not os.path.exists(path):
        return None
    return json.loads(open(path).read())


def read_sketch_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The current committed snapshot, or None before the first
    micro-batch commits."""
    head = read_head(state_dir)
    if head is None:
        return None
    return spark.read.parquet(head["version"])


def _commit(
    state_dir: str, batch_id: int, merge: Callable[[str | None], DataFrame]
) -> None:
    """One idempotent HEAD commit: skip a batch id the state already
    holds, else write ``merge(previous version dir or None)`` as version
    ``v<batch_id>`` (one file) and swap HEAD to it."""
    head = read_head(state_dir)
    if head is not None and batch_id <= head["last_batch_id"]:
        return  # replayed micro-batch after a restart: already merged
    merged = merge(None if head is None else head["version"])
    vdir = os.path.join(state_dir, "versions", f"v{batch_id}")
    merged.coalesce(1).write.mode("overwrite").parquet(vdir)
    os.makedirs(state_dir, exist_ok=True)
    tmp = _head_path(state_dir) + ".tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps({"version": vdir, "last_batch_id": batch_id}))
    os.replace(tmp, _head_path(state_dir))


def _merge_stats(
    batch_df: DataFrame,
    batch_id: int,
    stats: dict[str, Callable[[DataFrame], DataFrame]],
) -> None:
    batch_df.persist()
    try:
        for state_dir, build in stats.items():

            def merge(prev: str | None) -> DataFrame:
                sk = build(batch_df)
                if prev is None:
                    return sk
                keys = [c for c in sk.columns if c != "cnt"]
                return (
                    batch_df.sparkSession.read.parquet(prev)
                    .unionByName(sk)
                    .groupBy(*keys)
                    .agg(F.sum("cnt").alias("cnt"))
                )

            _commit(state_dir, batch_id, merge)
    finally:
        batch_df.unpersist()


def maintained_stats_writer(
    stream: DataFrame, stats: dict[str, Callable[[DataFrame], DataFrame]]
):
    """``writeStream`` writer keeping every additive statistic in
    ``stats`` (``{state_dir: build}``) warm from ONE pass over each
    micro-batch. ``build(batch)`` returns key columns plus a ``cnt``
    column (e.g. ``token_counts``, ``doc_freq_stats``,
    ``ngram_window_counts``, ``cms_sketch``, ``hist_bins``, or the
    ``line_stats`` / ``label_token_stats`` / ``fp_stats`` /
    ``source_stats`` shapes beside their ``*_from_state`` readers); the
    merge keys are every other column. ``read_sketch_state(state_dir)``
    at any drain point EQUALS ``build`` over everything committed so far
    (tested across micro-batch boundaries, restarts, and a crash between
    two states' commits: each state keeps its own HEAD, so the replay
    merges only the states that missed the batch)."""
    return stream.writeStream.foreachBatch(
        lambda df, bid: _merge_stats(df, bid, stats)
    )


def reservoir_stream_writer(
    stream_rows: DataFrame,
    n: int,
    weight_col: str,
    state_dir: str,
    id_col: str = "doc_id",
    salt: int = 0,
):
    """Weighted reservoir sample WITHOUT replacement over an unbounded
    stream (the streaming form of ``curation.weighted_sample``): the
    A-ES key −ln(u)/w is a pure per-row function, so each micro-batch
    contributes its own n best draws and the committed reservoir keeps
    the n smallest keys overall — min-n is mergeable exactly like the
    additive statistics above, under the same HEAD commit protocol
    (bounded n-row state, idempotent replays). At any drain point the
    state EQUALS the batch ``weighted_sample`` over everything committed
    so far (tested across micro-batch boundaries); rows assume unique
    ids, as the draw is keyed on (salt, id)."""
    from ocr_spark.operators.curation import aes_keyed

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        def merge(prev: str | None) -> DataFrame:
            cand = aes_keyed(batch_df, weight_col, id_col, salt)
            if prev is not None:
                cand = batch_df.sparkSession.read.parquet(prev).unionByName(cand)
            return cand.orderBy(F.col("_aes_key").asc(), F.col(id_col).asc()).limit(n)

        _commit(state_dir, batch_id, merge)

    return stream_rows.writeStream.foreachBatch(_batch)


def group_cap_stream_writer(
    stream_rows: DataFrame,
    group_col: str,
    max_rows: int,
    state_dir: str,
    id_col: str = "doc_id",
    salt: int = 0,
):
    """Streaming per-domain cap (the streaming form of
    ``curation.cap_per_group``): keep at most ``max_rows`` rows per
    group across an unbounded stream, selected by the same salted-md5
    draw. Min-K per group is mergeable exactly like the global
    reservoir — each micro-batch contributes its own per-group winners
    (via the skew-proof bucketed form) and the committed state keeps
    the K smallest draws per group, so state is bounded by
    groups × max_rows whatever the stream's volume. Same HEAD commit
    protocol: idempotent replays, and at any drain point the state
    EQUALS the batch ``cap_per_group`` over everything committed
    (tested across micro-batch boundaries)."""
    from pyspark.sql import Window

    from ocr_spark.operators.curation import cap_per_group

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        def merge(prev: str | None) -> DataFrame:
            # within the (possibly huge) batch: the skew-proof bucketed form
            cand = cap_per_group(batch_df, group_col, max_rows, id_col, salt)
            if prev is None:
                return cand
            # state ∪ candidates is ≤ 2·max_rows rows PER GROUP by
            # construction, so the textbook window is safe here — the draw
            # is recomputable from (salt, id), nothing extra rides the state
            u = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
            w = Window.partitionBy(group_col).orderBy(u.asc(), F.col(id_col).asc())
            return (
                batch_df.sparkSession.read.parquet(prev)
                .unionByName(cand)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= max_rows)
                .drop("_rn")
            )

        _commit(state_dir, batch_id, merge)

    return stream_rows.writeStream.foreachBatch(_batch)


def read_reservoir_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The committed reservoir rows (draw key dropped), or None before
    the first micro-batch commits."""
    state = read_sketch_state(spark, state_dir)
    return None if state is None else state.drop("_aes_key")
