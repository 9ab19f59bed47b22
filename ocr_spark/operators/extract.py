"""The Spark extraction pipeline (the engine's flagship job).

Restates the reference's request pipeline (SURVEY.md §3.1) as one
declarative DataFrame job, the same one for batch, staged, paged and
streaming runs (``fields_dataflow``):

    documents ──explode──► span rows
      ├─ media spans ──join(media)──► payload rows          (S2/S4/S7)
      ├─ salted repartition by xxhash64(doc_id, salt)       (north rule)
      ├─ oversized PDFs ──mapInPandas(split pages)──►       (S5 skew path)
      │       groupBy(doc_id, offset).applyInPandas(reassemble)
      ├─ mapInPandas(kernel.fields_batch)  — vectorized extraction
      │       (T*, X*, D*, M* families + merge lattice)     (EP1 steps 4-9)
      ├─ extracted_spans: groupBy(doc_id) of each row's span array (JVM)
      └─ invoices, goals, ml_data: typed flat projections

Each output plan is one SQL-expression projection or aggregation
(``selectExpr`` / ``F.expr``), not a chain of column-DSL calls: on
PySpark 4 each ``F.*`` call is a dozen py4j round trips and each Dataset
construction a JVM analysis, a fixed cost every pass and every
streaming micro-batch pays on the driver.

All Python stages are Arrow-batched (`mapInPandas` / `applyInPandas`);
there is no per-row Python anywhere.  Dimension data (company/supplier)
ships with the task closure — it is the same "load dims once, keep in
memory" strategy as the reference startup (llm_enhanced_extractor.py:24-31)
and is equivalent to a broadcast for these tiny tables; the relational
broadcast-join form of the same matching lives in operators/enrich.py.
"""

from __future__ import annotations

from datetime import date
from functools import cached_property, partial
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark.kernel import assemble
from ocr_spark.schemas import FIELD_SPAN_ORDER

# a paged run's usual page_split_bytes: the synth corpus's oversized PDFs
# (~100 pages) sit above it, its normal 2-page PDFs well below
OVERSIZE_PAYLOAD_BYTES = 64 * 1024

FIELDS_ROW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("norm_text", T.StringType(), True),
        *[T.StructField(name, T.StringType(), True) for name in FIELD_SPAN_ORDER],
        T.StructField("confidence", T.DoubleType(), True),
        # raw resolved span text, kernel-truncated to assemble.RAW_TEXT_LIMIT
        # (ml_enhanced_extractor.py:416) — feeds the invoice_ml_data sink
        T.StructField("raw_text", T.StringType(), True),
    ]
)

_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("page_text", T.StringType(), True),
    ]
)

_RESOLVED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("content", T.StringType(), True),
    ]
)

def explode_spans(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans[]) → one row per span
    (doc_id, kind, text, media_ref, offset)."""
    return documents.selectExpr("doc_id", "inline(spans)")


_PAYLOAD_JOIN_SQL = (
    "CASE WHEN kind IN ('pdf', 'image') AND media_ref IS NOT NULL THEN media_ref"
    " ELSE concat('\\u0000txt:', doc_id, ':', CAST(offset AS STRING)) END = _payload_ref"
)


def attach_payloads(span_rows: DataFrame, media: DataFrame | None) -> DataFrame:
    """Attach payloads to media-kind spans in a SINGLE scan of the input.

    Round 1 split the input into a media branch (joined) and a text branch
    (unioned back): filter pushdown through the upstream exchange made the
    two branch plans non-identical so ReuseExchange never fired and the
    exploded input was scanned twice — at 100 TB the text branch is the
    bulk, and two scans of it was the biggest scale tax in the flagship
    plan (VERDICT r01).  Now every row takes ONE left join:

    * media rows join on their media_ref;
    * text rows get a synthetic per-row key (NUL-prefixed, cannot collide
      with any real ref) that never matches — they stream through the join
      with a null payload, and under a shuffled join the unique keys
      distribute uniformly instead of piling every null on one partition.

    The media side is hinted as a broadcast (per-batch payload
    dictionaries are small next to the text corpus): no shuffle of the
    span rows at all.  Should the planner still pick a shuffled join, the
    synthetic keys keep it skew-free.
    """
    if media is None:
        return span_rows.selectExpr("*", "CAST(NULL AS BINARY) AS payload")
    m = media.selectExpr("media_ref AS _payload_ref", "payload").hint("broadcast")
    return span_rows.join(m, F.expr(_PAYLOAD_JOIN_SQL), "left").drop("_payload_ref")


def salted_repartition(df: DataFrame, num_partitions: int, salt: int = 0) -> DataFrame:
    """North rule: explicit repartition by salted doc_id hash.

    Partition on the raw 64-bit hash, NOT pmod(hash, N): Spark re-hashes
    the partition expression, so an N-valued pmod gives balls-into-bins
    collisions (measured 4.6x row skew at N=96); the full-width hash
    distributes uniformly. The explicit partition count also opts this
    exchange out of AQE coalescing — Python extraction is CPU-bound, and
    AQE's byte-based coalescing would serialize it (measured: the whole
    big-PDF branch coalesced into ONE task).
    """
    return df.repartition(num_partitions, F.expr(f"xxhash64(doc_id, {int(salt)})"))


def _fields_map(
    it: Iterator[pd.DataFrame], as_of: date, companies: list[dict],
    suppliers: list[dict], emit_raw_text: bool = False, resolved: bool = False,
) -> Iterator[pd.DataFrame]:
    for batch in it:
        yield assemble.fields_batch(
            batch if resolved else assemble.resolve_batch(batch),
            as_of, companies, suppliers, emit_raw_text=emit_raw_text,
        )


def _split_pages_map(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for batch in it:
        yield assemble.split_pdf_pages(batch)


def extract_fields(
    spans_with_payload: DataFrame,
    as_of: date = assemble.DEFAULT_AS_OF,
    companies: list[dict] | None = None,
    suppliers: list[dict] | None = None,
    with_raw_text: bool = False,
    page_split_bytes: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Span rows (+payload) → one FIELDS row per span: the engine's only
    kernel stage, shared by batch, staged, paged and streaming runs.

    ``page_split_bytes=None`` (default): one mapInPandas handles every kind
    inline, including multi-page PDFs (~100 ms/monster in the kernel, so
    intra-doc parallelism buys nothing at this per-page cost). No dataflow
    branching: a small/big filter split re-evaluates the shared scan+shuffle
    lineage per branch — Catalyst pushes the filters below the exchange, so
    the exchanges stop being canonically identical and ReuseExchange never
    fires (verified on the executed AQE plan).

    ``page_split_bytes=N`` is the skew path (north rule / SURVEY.md §7.3)
    for workloads where per-page cost is heavy (real OCR: seconds/page):
    PDF payloads over N bytes are split into page rows processed as
    independent sub-tasks, re-assembled per (doc_id, offset) sorted by
    page_no, then run through the same kernel — one 500-page document
    costs 500 parallel sub-tasks instead of pinning a core. It pays the
    extra scan above plus a page-level shuffle over ``num_partitions``
    (default spark.sql.shuffle.partitions).
    """
    fields_map = partial(
        _fields_map,
        as_of=as_of,
        companies=companies or [],
        suppliers=suppliers or [],
        emit_raw_text=with_raw_text,
    )
    if page_split_bytes is None:
        return spans_with_payload.mapInPandas(fields_map, schema=FIELDS_ROW_SCHEMA)
    if num_partitions is None:
        num_partitions = int(
            spans_with_payload.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    is_big_pdf = F.coalesce(
        (F.col("kind") == "pdf") & (F.length("payload") > F.lit(page_split_bytes)),
        F.lit(False),
    )
    small_fields = spans_with_payload.filter(~is_big_pdf).mapInPandas(
        fields_map, schema=FIELDS_ROW_SCHEMA
    )
    # Explicit partition count on the reassembly exchange: it satisfies the
    # groupBy's ClusteredDistribution (no second shuffle) AND opts out of
    # AQE byte-based coalescing, which would funnel the CPU-bound
    # reassemble+extract work for every monster PDF into one task.
    big_fields = (
        spans_with_payload.filter(is_big_pdf)
        .mapInPandas(_split_pages_map, schema=_PAGE_SCHEMA)
        .repartition(num_partitions, "doc_id", "offset")
        .groupBy("doc_id", "offset")
        .applyInPandas(assemble.reassemble_pages, schema=_RESOLVED_SCHEMA)
        .mapInPandas(partial(fields_map, resolved=True), schema=FIELDS_ROW_SCHEMA)
    )
    return small_fields.unionByName(big_fields)


# the span layout as ONE SQL expression: built through the Python column
# DSL it takes ~100 py4j calls and ~0.17 s of plan building per call
# (measured on a 4-vCPU VM, local[4]), which a streaming run pays once per
# delivery
_SPAN_ARRAY_SQL = (
    "concat(array(named_struct('kind', 'text', 'text', norm_text,"
    " 'media_ref', coalesce(media_ref, ''))), filter(array("
    + ", ".join(
        f"named_struct('kind', 'field:{name}', 'text', {name}, 'media_ref', '')"
        for name in FIELD_SPAN_ORDER
    )
    + "), s -> s.text IS NOT NULL))"
)
# per FIELDS row its spans as (offset, seq, kind, text, media_ref) structs;
# per doc every row's array, sorted, as (kind, text, media_ref, offset)
_SPANS_AGG_SQL = (
    "transform(array_sort(flatten(collect_list(transform("
    + _SPAN_ARRAY_SQL
    + ", (s, i) -> named_struct('offset', offset, 'seq', i, 'kind', s.kind,"
    " 'text', s.text, 'media_ref', s.media_ref))))), s -> named_struct("
    "'kind', s.kind, 'text', s.text, 'media_ref', s.media_ref, 'offset', s.offset)) AS spans"
)


def extracted_spans_from_fields(fields_rows: DataFrame) -> DataFrame:
    """FIELDS rows → extracted_spans(doc_id, spans[]) in PURE JVM (no
    Python stage), the layout ``assemble.spans_from_fields`` restates in
    pandas (tested equal via the e2e span-equality suite): per FIELDS row,
    one 'text' span (seq 0, norm_text, media_ref carried) then one
    ``field:<name>`` span per non-null field in FIELD_SPAN_ORDER (seq
    dense from 1, media_ref ""), each doc's spans sorted by (offset, seq).

    The aggregation collects each FIELDS row's span array, so no span row
    is ever generated: the doc_id shuffle carries one entry per FIELDS
    row, not one per output span, and the plan is one Dataset. Field
    values are already strings in the FIELDS schema, so no cast can
    diverge from the kernel's str(), and the spans output costs no second
    Arrow round-trip over the cached FIELDS frame."""
    return fields_rows.groupBy("doc_id").agg(F.expr(_SPANS_AGG_SQL))


# deterministic ids replace the reference's uuid4 (FIXTURES.md §5)
_INVOICE_ID_SQL = "sha2(concat_ws('|', doc_id, CAST(offset AS STRING)), 256)"
_TTC_DECIMAL_SQL = "CAST(total_ttc AS DECIMAL(10,2))"


def invoices_from_fields(fields_rows: DataFrame) -> DataFrame:
    """FIELDS rows → flat typed invoices table (one row per input span),
    carrying the full InvoiceDTO surface (src/api/invoice_models.py:53-75):
    the constant status block DRAFT/not-completed/draft
    (invoice_service.py:52-54), empty state_validations (:82),
    document_urls = [doc_id] (:84 — filename analogue), and the X13
    line-items JSON blob.

    Deterministic ids replace the reference's uuid4
    (src/services/invoice_service.py:34 → sha2, FIXTURES.md §5).
    """
    return fields_rows.selectExpr(
        f"{_INVOICE_ID_SQL} AS invoice_id",
        "doc_id",
        "invoice_number",
        "to_date(invoice_date) AS invoice_date",
        "to_date(due_date) AS due_date",
        "currency AS currency_code",
        "supplier_name",
        "company_erp_code",
        "CAST(total_ht AS DECIMAL(10,2)) AS excluding_taxes",
        "CAST(tva AS DECIMAL(10,2)) AS taxes",
        f"{_TTC_DECIMAL_SQL} AS including_taxes",
        "CAST(amount_due AS DECIMAL(10,2)) AS amount_due",
        "confidence",
        "'DRAFT' AS payment_state",
        "false AS completed",
        "true AS draft",
        "CAST(array() AS ARRAY<STRING>) AS state_validations",
        "array(doc_id) AS document_urls",
        "line_items",
    )


def invoice_goals_from_fields(fields_rows: DataFrame) -> DataFrame:
    """FIELDS rows → InvoiceGoal rows (invoice_service.py:364-389): one
    goal per invoice whose TTC is truthy (the 0.00 lattice default creates
    none — the reference's `if amount:` gate), amount = including_taxes.
    Goal ids determinized like invoice ids (uuid4 → sha2)."""
    return fields_rows.where(
        f"{_TTC_DECIMAL_SQL} IS NOT NULL AND {_TTC_DECIMAL_SQL} != 0"
    ).selectExpr(
        f"sha2(concat({_INVOICE_ID_SQL}, ':goal'), 256) AS goal_id",
        f"{_INVOICE_ID_SQL} AS invoice_id",
        f"{_TTC_DECIMAL_SQL} AS amount",
    )


def _present(col: str) -> str:
    # float truthiness: 0.0 counts as absent
    return f"(CAST({col} AS DOUBLE) IS NOT NULL AND CAST({col} AS DOUBLE) != 0)"


_QUALITY_SQL = (
    "(CASE WHEN invoice_number IS NOT NULL AND invoice_number != '' THEN 1 ELSE 0 END"
    f" + CASE WHEN {_present('total_ttc')} THEN 1 ELSE 0 END"
    " + CASE WHEN supplier_name IS NOT NULL AND supplier_name != '' THEN 1 ELSE 0 END"
    " + CASE WHEN invoice_date IS NOT NULL THEN 1 ELSE 0 END) / 4.0D"
)
_EXTRACTED_DATA_FIELDS = (
    "invoice_number", "invoice_date", "due_date", "currency", "total_ht", "tva",
    "total_ttc", "amount_due", "siret", "vat_number", "supplier_name",
    "company_erp_code", "email", "phone", "line_items",
)


def ml_data_from_fields(fields_rows: DataFrame) -> DataFrame:
    """FIELDS rows → invoice_ml_data training rows, pure-JVM projection of
    the reference's ``_save_ml_training_data`` insert
    (src/extraction/ml_enhanced_extractor.py:393-428):

    * ``raw_text`` — the resolved span text, already kernel-truncated to
      10 000 chars (:416, "Limiter la taille");
    * ``extracted_data`` — the JSON blob the reference builds at :399-405
      ({extracted_data, confidence_score, processing_time,
      validation_score, filename}), with the pipeline's FIELDS as the
      extracted-data dict and doc_id as the filename analogue;
    * the score columns via kernel/ml.py semantics computed JVM-side
      (tested equal to the Python functions in tests/test_pipeline_e2e):
      validation_score/data_quality_score = presence-count/4 over
      (number, ttc, supplier, date) with FLOAT-truthiness (0.00 counts as
      absent, ml.validation_score:154-160), and the M6 calculation check
      (ml.check_calculation_consistency:145-151).

    ``processing_time`` is determinized to 0.0 (wall-clock in the
    reference — same policy as uuid4 → sha2, FIXTURES.md §5).

    ``raw_text`` is only populated when the pipeline was built with
    ``with_raw_text=True`` (build_pipeline default is False — the column
    doubles the FIELDS payload); jobs/extract.py sets it automatically
    when ``--ml-data-out`` is given.
    """
    data = ", ".join(f"'{c}', {c}" for c in _EXTRACTED_DATA_FIELDS)
    blob = (
        f"to_json(named_struct('extracted_data', named_struct({data}),"
        " 'confidence_score', confidence, 'processing_time', 0.0D,"
        f" 'validation_score', {_QUALITY_SQL}, 'filename', doc_id))"
    )
    calc_check = (
        f"{_present('total_ht')} AND {_present('tva')} AND {_present('total_ttc')}"
        " AND abs(CAST(total_ht AS DOUBLE) + CAST(tva AS DOUBLE)"
        " - CAST(total_ttc AS DOUBLE)) <= 0.01D"
    )
    return fields_rows.selectExpr(
        "sha2(concat_ws('|', doc_id, CAST(offset AS STRING), 'ml'), 256) AS ml_id",
        "doc_id",
        "raw_text",
        f"{blob} AS extracted_data",
        "confidence AS confidence_score",
        "0.0D AS processing_time",
        f"{_QUALITY_SQL} AS validation_score",
        f"{_QUALITY_SQL} AS data_quality_score",
        f"{calc_check} AS ml_calculation_check",
        f"{_QUALITY_SQL} >= 0.5D AS ml_required_fields_present",
    )


class PipelineFrames:
    """Shared-FIELDS pipeline outputs: ONE kernel execution feeds every
    table.  ``fields`` is persisted (memory, spill to disk) so whichever
    output materializes first computes the kernel and the others read the
    cache; call :meth:`unpersist` when the outputs are written.  Each
    output plan is built on first access, so a caller that writes only
    spans and invoices never builds the goals or ml_data plans."""

    def __init__(self, fields: DataFrame):
        self.fields = fields

    @cached_property
    def extracted_spans(self) -> DataFrame:
        return extracted_spans_from_fields(self.fields)

    @cached_property
    def invoices(self) -> DataFrame:
        return invoices_from_fields(self.fields)

    @cached_property
    def invoice_goals(self) -> DataFrame:
        return invoice_goals_from_fields(self.fields)

    @cached_property
    def ml_data(self) -> DataFrame:
        return ml_data_from_fields(self.fields)

    def unpersist(self) -> None:
        self.fields.unpersist()


def build_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    media: DataFrame | None,
    as_of: date = assemble.DEFAULT_AS_OF,
    companies: list[dict] | None = None,
    suppliers: list[dict] | None = None,
    num_partitions: int | None = None,
    salt: int = 0,
    page_split_bytes: int | None = None,
    with_raw_text: bool = False,
) -> PipelineFrames:
    """documents/media → shared-FIELDS dataflow (spans + invoices).

    ``with_raw_text=False`` (default) leaves FIELDS.raw_text null — the
    column doubles the shipped/persisted row payload and measurably
    throttles high-parallelism runs; pass True when the ml_data output
    will be materialized (jobs/extract.py does this automatically for
    --ml-data-out).

    Round 1 built the spans output from one kernel execution and the
    invoices output from an INDEPENDENT second execution over the same
    rows — a caller materializing both paid the dominant extraction cost
    twice, and the invoices branch ignored ``page_split_bytes`` entirely
    (VERDICT r01 / ADVICE r01).  Now a single FIELDS-producing stage
    (paged or not) is persisted and every output derives from it by a
    pure JVM projection (spans via extracted_spans_from_fields).
    """
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    fields = fields_dataflow(
        documents, media, as_of, companies, suppliers, num_partitions, salt,
        page_split_bytes, with_raw_text,
    )
    from pyspark import StorageLevel

    return PipelineFrames(fields.persist(StorageLevel.MEMORY_AND_DISK))


def fields_dataflow(
    documents: DataFrame,
    media: DataFrame | None,
    as_of: date = assemble.DEFAULT_AS_OF,
    companies: list[dict] | None = None,
    suppliers: list[dict] | None = None,
    num_partitions: int = 8,
    salt: int = 0,
    page_split_bytes: int | None = None,
    with_raw_text: bool = False,
) -> DataFrame:
    """The one FIELDS-producing dataflow every mode runs (batch, staged,
    paged, streaming): explode → payload attach → salted repartition →
    extract_fields. ``documents`` may be a streaming frame; ``media`` is
    then the static side of a stream-static join."""
    rows = explode_spans(documents)
    rows = attach_payloads(rows, media)
    rows = salted_repartition(rows, num_partitions, salt)
    return extract_fields(
        rows, as_of, companies, suppliers, with_raw_text,
        page_split_bytes=page_split_bytes, num_partitions=num_partitions,
    )


def build_pipeline_staged(
    spark: SparkSession,
    documents: DataFrame,
    media: DataFrame | None,
    staging_dir: str,
    input_snapshot: str,
    n_buckets: int = 64,
    as_of: date = assemble.DEFAULT_AS_OF,
    companies: list[dict] | None = None,
    suppliers: list[dict] | None = None,
    num_partitions: int | None = None,
    salt: int = 0,
    page_split_bytes: int | None = None,
    with_raw_text: bool = False,
) -> PipelineFrames:
    """build_pipeline with the FIELDS frame written to a parquet STAGING
    TABLE through the manifest-checkpointed sink instead of executor-
    storage persist (the SCALING.md trade-off #2 form): when a 100 TB run
    outlives executor storage — multi-day jobs, preemptible executors —
    the kernel output survives any crash, a resumed run re-submits with
    the same ``input_snapshot`` and only the unmanifested buckets re-run
    the kernel, and every derived output reads the committed staging
    table (one scan each, no cache memory at all).

    Costs one parquet round-trip of FIELDS vs the persist form (measured
    ≤10 % at sf0.1 — bench.py --fields-staging); identical outputs
    (tests/test_resume.py::test_staged_pipeline_*).
    """
    from ocr_spark.sources.manifests import checkpointed_write, read_committed

    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    fields = fields_dataflow(
        documents, media, as_of, companies, suppliers, num_partitions, salt,
        page_split_bytes, with_raw_text,
    )
    checkpointed_write(
        spark, fields, staging_dir, n_buckets=n_buckets, input_snapshot=input_snapshot
    )
    return PipelineFrames(read_committed(spark, staging_dir, input_snapshot))


# --------------------------------------------------------------------------
# standalone batched HTML boilerplate strip (north rule: text-density +
# link-density DOM heuristics a la Readability/Boilerpipe)
# --------------------------------------------------------------------------

_HTML_MAIN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("main_text", T.StringType()),
        T.StructField("main_chars", T.LongType()),
        T.StructField("html_chars", T.LongType()),
    ]
)


def _html_main_map(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ocr_spark.kernel import htmlx

    for batch in it:
        main = htmlx.extract_main_text(batch["html"])
        yield pd.DataFrame(
            {
                "doc_id": batch["doc_id"],
                "offset": batch["offset"].astype("int32"),
                "main_text": main,
                "main_chars": main.str.len().astype("int64"),
                "html_chars": batch["html"].str.len().fillna(0).astype("int64"),
            }
        )


def html_main_text(html_spans: DataFrame) -> DataFrame:
    """Batched HTML main-content extraction as a standalone operator:
    rows ``(doc_id, offset, html)`` → ``(doc_id, offset, main_text,
    main_chars, html_chars)`` via the kernel's boilerplate stripper
    (``kernel/htmlx.py``: block segmentation, nav/header/footer/aside
    subtree tagging, per-block link-density < 0.33 and text-density >= 3
    gates, heading adoption — Kohlschütter et al., WSDM 2010 in spirit).

    Scale shape: ONE Arrow-batched ``mapInPandas`` stage — no shuffle,
    no collect; the HTML parse is the inherent cost and it is
    embarrassingly parallel. The same kernel function serves the
    pipeline's format dispatch (kernel/assemble.py resolve_content), so
    this row pins the batched distributed path against a plain-Python
    replay of the identical kernel (tools/gen_html_golden.py)."""
    return html_spans.select("doc_id", "offset", "html").mapInPandas(
        _html_main_map, schema=_HTML_MAIN_SCHEMA
    )
