"""Streaming quality signals.

Stateless signals need no streaming code: ocr_spark.operators.quality's
:func:`repetition_stats` and :func:`dedup_lines` are pure row-local
column expressions, so the batch functions themselves run on a
streaming DataFrame in append mode with no state store and no watermark
— each micro-batch row is scored/cleaned independently, and the output
equals the batch run row-for-row across any micro-batch split
(tests/test_streaming_quality.py).

Stateful corpus statistics: the exact corpus term-frequency table
``(tok, cnt)`` is the one quality statistic the stateless forms CANNOT
provide, because it aggregates across documents. Counts are additive
across deliveries, so ``streaming.sketch.maintained_stats_writer`` keeps
it warm with the batch :func:`token_counts` as the build (idempotent
HEAD commits keyed on batch id; replayed micro-batches are no-ops), next
to any other additive state — :func:`line_stats` and
:func:`label_token_stats` here — in the same pass over each delivery.
:func:`unigram_model_from_state` then derives a model artifact EQUAL to
the batch :func:`unigram_model` over everything committed so far — the
index-stats pattern: the stream keeps the statistic warm, batch-quality
filters consume it without rescanning the corpus.

State size is the vocabulary, not the corpus (Heaps' law: sublinear),
but unlike the CMS it does grow — each merge rewrites the vocab table
(an O(vocab) LSM-style compaction per batch). At web scale, feed coarser
micro-batches (or merge every Nth batch) — the merge cost amortizes
exactly like any log-structured index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ocr_spark.operators.quality import model_from_token_counts
from ocr_spark.streaming.sketch import read_sketch_state


def unigram_model_from_state(
    spark: SparkSession, state_dir: str, vocab_size: int = 50_000
) -> DataFrame | None:
    """The :func:`unigram_model` artifact derived from the streaming
    token-stats state — equal to the batch build over the committed
    prefix of the stream, at the cost of reading only the vocab-sized
    state table."""
    tc = read_sketch_state(spark, state_dir)
    if tc is None:
        return None
    return model_from_token_counts(tc, vocab_size)


def line_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Build for ``maintained_stats_writer``: the cross-document line
    statistic ``(line_md5, cnt)`` — cnt = how many distinct documents
    contain the line — that
    :func:`ocr_spark.operators.quality.remove_boilerplate` thresholds
    on. Each document arrives in exactly one delivery and doc ids are
    unique, so per-delivery distinct-doc counts are ADDITIVE across
    deliveries. State size is the distinct-line count (sublinear in the
    corpus under the duplication boilerplate implies)."""
    from ocr_spark.operators.quality import boilerplate_lines

    return boilerplate_lines(
        docs, min_docs=1, text_col=text_col, id_col=id_col
    ).withColumnRenamed("n_docs", "cnt")


def boilerplate_stats_from_state(
    spark: SparkSession, state_dir: str
) -> DataFrame | None:
    """The ``(line_md5, n_docs)`` stats frame — shaped for
    ``remove_boilerplate(stats=...)`` — derived from the streaming line
    state: a new delivery is cleaned against the WHOLE committed corpus
    without rescanning it (the maintained-statistic apply, same loop as
    the incremental embeddings and dup-span statistics)."""
    st = read_sketch_state(spark, state_dir)
    if st is None:
        return None
    from pyspark.sql import functions as F

    return st.select("line_md5", F.col("cnt").alias("n_docs"))


def label_token_stats(
    docs: DataFrame, label_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Build for ``maintained_stats_writer``: the per-class term
    frequencies ``(label, tok, cnt)`` — the Naive Bayes sufficient
    statistic — of a labeled document stream, additive across
    deliveries (batch :func:`label_token_counts` with ``c`` as
    ``cnt``). Maintain it in one query with ``curation.source_stats``
    (the mixture family's per-source masses — the classifier reuses
    that exact state) and :func:`nb_model_from_state` retrains the
    classifier per delivery at S·V-row cost, never rescanning the
    corpus."""
    from ocr_spark.operators.quality import label_token_counts

    return label_token_counts(
        docs, label_col=label_col, text_col=text_col
    ).withColumnRenamed("c", "cnt")


def nb_model_from_state(
    spark: SparkSession,
    token_state_dir: str,
    source_state_dir: str,
    vocab_size: int = 50_000,
    alpha: float = 0.5,
) -> DataFrame | None:
    """The :func:`nb_model` artifact derived from two maintained
    states — the labeled term frequencies (:func:`label_token_stats`)
    and the per-source masses (``curation.source_stats``, shared with
    the mixture planner). Equal to the batch build over the committed
    prefix of the stream (tested stream == batch); the corpus is never
    rescanned."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.quality import nb_model_from_counts

    ltc = read_sketch_state(spark, token_state_dir)
    src = read_sketch_state(spark, source_state_dir)
    if ltc is None or src is None:
        return None
    stats = src.groupBy("grp").agg(
        F.sum(F.when(F.col("metric") == "docs", F.col("cnt"))).alias("n_docs"),
        F.sum(F.when(F.col("metric") == "tokens", F.col("cnt"))).alias("n_tokens"),
    )
    return nb_model_from_counts(
        ltc.select("label", "tok", F.col("cnt").alias("c")),
        stats,
        vocab_size=vocab_size,
        alpha=alpha,
    )


def bpe_merges_from_state(
    spark: SparkSession,
    state_dir: str,
    n_merges: int = 40,
    min_count: int = 2,
) -> DataFrame | None:
    """The BPE merge table learned from the streaming token-stats state
    — equal to batch ``bpe.bpe_learn`` over every document committed so
    far (word counts are additive across deliveries), at type-table
    cost with no corpus rescan: the tokenizer artifact as a MAINTAINED
    table, refreshable per delivery."""
    from ocr_spark.operators.bpe import bpe_learn_from_counts

    tc = read_sketch_state(spark, state_dir)
    if tc is None:
        return None
    return bpe_learn_from_counts(
        tc, n_merges=n_merges, min_count=min_count, word_col="tok"
    )
