"""Streaming surface for the extraction pipeline.

The reference is a synchronous request/response service with no streaming
semantics (SURVEY.md §2.9; /root/reference/src/api/routes.py:43), so batch
is the engine's primary mode. This module demonstrates the promised drop-in
(SURVEY.md §2.9): the SAME FIELDS dataflow as the batch pipeline
(``fields_dataflow``: explode → payload join → salted repartition →
``extract_fields``) runs unchanged under Structured Streaming over a
`readStream` documents source, and a `foreachBatch` sink lays the FIELDS
rows out as extracted_spans JVM-side and hands them to the
manifest-checkpointed writer, so the stream inherits bucket-granular
exactly-once semantics on top of Spark's own offset checkpointing.

Micro-batch = one `build_pipeline`-shaped dataflow per trigger; with
``availableNow`` the stream drains the backlog and stops — the form a
100 TB backfill-then-tail deployment takes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ocr_spark.operators.extract import (
    assemble_spans_table,
    fields_dataflow,
    span_rows_from_fields,
)
from ocr_spark.schemas import DOCUMENTS
from ocr_spark.sources.manifests import checkpointed_write


def stream_documents(spark: SparkSession, docs_dir: str) -> DataFrame:
    """readStream over the parquet documents source (declared schema —
    streaming sources must not infer)."""
    return (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", 4)
        .parquet(docs_dir)
    )


def run_stream(
    spark: SparkSession,
    docs_dir: str,
    media: DataFrame | None,
    out_dir: str,
    checkpoint_dir: str,
    companies: list[dict] | None = None,
    suppliers: list[dict] | None = None,
    num_partitions: int = 8,
    n_buckets: int = 8,
    available_now: bool = True,
    snapshot_prefix: str | None = None,
):
    """Drain the documents backlog into the manifest-checkpointed sink.

    foreachBatch assembles each micro-batch's FIELDS rows into
    extracted_spans docs and hands them to checkpointed_write keyed by
    (epoch=batch id) — a replayed micro-batch (post-crash) anti-joins its
    already-manifested buckets, so the sink is idempotent end-to-end.

    ``snapshot_prefix`` namespaces the manifest snapshot keys per STREAM:
    batch ids restart at 0 for any fresh checkpoint dir, so two streams
    sharing an out_dir would otherwise collide on ``stream-batch-0`` and
    the anti-join would silently drop already-manifested buckets (ADVICE
    r01).  Default = a hash of the checkpoint dir — stable across
    restarts of the SAME stream (replay dedup keeps working), distinct
    for any new stream.
    """
    if snapshot_prefix is None:
        import hashlib as _hashlib
        import os as _os

        digest = _hashlib.md5(_os.path.abspath(checkpoint_dir).encode()).hexdigest()[:8]
        snapshot_prefix = f"stream-{digest}"
    fields = fields_dataflow(
        stream_documents(spark, docs_dir), media,
        companies=companies, suppliers=suppliers, num_partitions=num_partitions,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        extracted = assemble_spans_table(span_rows_from_fields(batch_df))
        checkpointed_write(
            spark,
            extracted,
            out_dir,
            n_buckets=n_buckets,
            input_snapshot=f"{snapshot_prefix}-batch-{batch_id}",
        )

    writer = fields.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
